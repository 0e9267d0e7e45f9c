"""Self-tests of the benchmark's own pieces (no Spark needed).

    python3 benchmark/selftest.py
"""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference as ref  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402

NS = ref.NS
T = 1_700_000_000 * NS


def ev(eid, t_s, metric, host="h", service="s", ttl=60.0):
    return {"host": host, "service": service, "state": "ok", "metric": metric,
            "time": T + int(t_s * NS), "ttl": ttl, "tags": [], "eventId": eid}


class SameSeedSameBytes(unittest.TestCase):
    def test_generators_are_deterministic(self):
        for kind in gen.GENERATORS:
            with self.subTest(kind=kind), tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b, tempfile.TemporaryDirectory() as c:
                pa = gen.GENERATORS[kind](7, a)
                pb = gen.GENERATORS[kind](7, b)
                gen.GENERATORS[kind](8, c)
                self.assertEqual(pa, pb)
                cmp = filecmp.dircmp(a, b)
                self.assertEqual(cmp.left_only + cmp.right_only, [])
                for root, _, files in os.walk(a):
                    for f in files:
                        pa_f = os.path.join(root, f)
                        pb_f = os.path.join(b, os.path.relpath(pa_f, a))
                        with open(pa_f, "rb") as x, open(pb_f, "rb") as y:
                            self.assertEqual(x.read(), y.read(), pa_f)
                differs = any(
                    not filecmp.cmp(os.path.join(root, f), os.path.join(c, os.path.relpath(os.path.join(root, f), a)),
                                    shallow=False)
                    for root, _, files in os.walk(a) for f in files if f.endswith((".json", ".bin", ".jsonl")))
                self.assertTrue(differs, "another seed must give other inputs")


class ReplayReference(unittest.TestCase):
    # one key; the event at t=2 s arrives last (eventId 5) but sits inside
    # the first window, well within :delay
    rows = [ev(1, 1, 10.0), ev(2, 3, 80.0), ev(3, 9, 75.0), ev(4, 12, 40.0), ev(5, 2, 72.0)]

    def test_windows_include_the_late_event(self):
        out = ref.replay_expected(self.rows)
        w0, w1 = T, T + 10 * NS
        # window [0,10): metrics in time order 10, 72, 80, 75; latest event id 3
        self.assertEqual(out["mean"], ref.collections.Counter({
            (w0, "h", "s", T + 9 * NS, 3, (10.0 + 72.0 + 80.0 + 75.0) / 4): 1,
            (w1, "h", "s", T + 12 * NS, 4, 40.0): 1}))
        # sorted metrics 10, 72, 75, 80: q0.5 -> index 2 (75), q0.99 -> index 3 (80)
        self.assertIn((w0, "h", "s", 0.5, T + 9 * NS, 3, 75.0), out["pct"])
        self.assertIn((w0, "h", "s", 0.99, T + 3 * NS, 2, 80.0), out["pct"])

    def test_per_key_folds_run_in_event_time(self):
        out = ref.replay_expected(self.rows)
        m1 = 0.3 * 10.0
        m2 = 0.7 * m1 + 0.3 * 72.0
        m3 = 0.7 * m2 + 0.3 * 80.0
        self.assertIn(("h", "s", T + 3 * NS, 2, m3), out["ewma"])
        self.assertIn(("h", "s", T + 2 * NS, 5, m2), out["ewma"])
        # throttle 3 per 10 s from t=1: t=1,2,3 pass, t=9 drops, t=12 opens a new window
        self.assertEqual(sorted(k[3] for k in out["throttle"]), [1, 2, 4, 5])
        # above 70 from t=2 (72, 80, 75): only t=9 is more than 5 s into the run
        self.assertEqual(list(out["above_dt"]), [("h", "s", T + 9 * NS, 3, 75.0)])
        self.assertIn(("h", "s", T + 12 * NS, 4, 80.0), out["smax"])

    def test_coalesce_keeps_the_latest_unexpired(self):
        rows = [ev(1, 1, 1.0, host="a"), ev(2, 4, 2.0, host="a", service="t"), ev(3, 5, 3.0, host="b")]
        out = ref.replay_expected(rows)
        self.assertEqual(set(out["coalesce"]), {(T, "a", "t", T + 4 * NS, 2, 2.0),
                                                (T, "b", "s", T + 5 * NS, 3, 3.0)})

    def test_sentinel_rows_are_not_compared(self):
        rows = self.rows + [ev(6, 500, 0.0, host=ref.FLUSH_HOST, service=ref.FLUSH_HOST)]
        out = ref.replay_expected(rows)
        for name, c in out.items():
            self.assertFalse(any(ref.FLUSH_HOST in k for k in c), name)


class ServeAndDedupReference(unittest.TestCase):
    def test_routes(self):
        def e(m):
            return {"host": "h", "service": "s", "state": "ok", "metric": m, "time": T, "tags": [],
                    "attributes": {"frame": "0", "seq": "0"}}
        self.assertEqual([(p[6], p[7]) for p in ref.serve_routes(e(96.0))], [("critical", ()), ("ok", ("p1",))])
        self.assertEqual([(p[6], p[7]) for p in ref.serve_routes(e(88.0))], [("ok", ("p2",))])
        self.assertEqual(ref.serve_routes(e(85.0)), [])

    def test_dedup(self):
        docs = [{"id": 1, "text": "a b c d"}, {"id": 2, "text": "a b c d"},
                {"id": 3, "text": "a b x y"}, {"id": 4, "text": "A b, c d e"}]
        exact, pairs, clusters, final = ref.dedup_expected(docs, 0.7)
        self.assertEqual(exact, [1, 3, 4])
        self.assertEqual(pairs, {(1, 4): 0.8})  # J(1,3) = 2/6 and J(3,4) = 2/7 miss it
        self.assertEqual(clusters, {1: 1, 4: 1})
        self.assertEqual(final, [1, 3])

    def test_riemann_frames_round_trip(self):
        evs = [{"host": "h", "service": "s", "state": "ok", "metric": 1.5, "time": T, "ttl": 60.0,
                "tags": [], "attributes": {"frame": "3", "seq": "0"}}] * 3
        fr = wire.frame(wire.encode_msg(evs))
        self.assertEqual(wire.read_frames(fr + fr), [fr, fr])
        self.assertEqual(wire.decode_ack(bytes([0x10, 0x01])), (True, None))


class TailPercentile(unittest.TestCase):
    def test_p99_when_supported(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(xs), (99.0, 990, 1000))

    def test_falls_back_to_highest_with_ten_beyond(self):
        xs = list(range(1, 201))
        p, v, n = stats.tail(xs)
        self.assertEqual((p, v, n), (95.0, 190, 200))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))

    def test_sample_count_is_printed(self):
        self.assertIn("of 200 samples", stats.describe_tail("x", stats.tail(range(200))))


if __name__ == "__main__":
    unittest.main()
