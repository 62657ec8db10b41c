"""Tests of the benchmark's own logic (no engine needed):

    python3 -m unittest discover -s perfbench/tests
"""
import os
import socket
import struct
import sys
import threading
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402


def rs_body(rows):
    """RS payload cells for (id, measure) rows, framed as the engine does."""
    out = b""
    for i, m in rows:
        for cell in (b"%d\0" % i, np.asarray(m, dtype="<f8").tobytes()):
            out += struct.pack("<Q", len(cell)) + cell
    return out


class PlantedOutputs(unittest.TestCase):
    def setUp(self):
        rng = np.random.default_rng(7)
        self.ids = np.array([3, 8, 13], dtype=np.int64)
        self.want = rng.standard_normal((3, 8))
        self.body = rs_body(zip(self.ids, self.want))

    def page(self, body, nrows=3):
        return nrows, 2, wire.split_cells(body, 2 * nrows)

    def test_good_page_passes(self):
        checks.check_page(self.page(self.body), self.ids, self.want)

    def test_rs_framing_longer_payload_is_caught(self):
        with self.assertRaises(wire.WireError):
            wire.split_cells(self.body + b"\0" * 8, 6)

    def test_rs_framing_short_payload_is_caught(self):
        with self.assertRaises(wire.WireError):
            wire.split_cells(self.body[:-1], 6)

    def test_rs_frame_over_a_socket_is_checked(self):
        a, b = socket.socketpair()
        bad = b"RS" + struct.pack("<QQI", len(self.body) + 3, 3, 2) + self.body + b"xyz"
        t = threading.Thread(target=lambda: (b.recv(2), b.sendall(bad)))
        t.start()
        cl = wire.Client.__new__(wire.Client)
        cl.sock, cl.bytes_in, cl.bytes_out, cl.last_rs_bytes = a, 0, 0, 0
        with self.assertRaises(wire.WireError):
            cl.rs()
        t.join()
        a.close()
        b.close()

    def test_query_value_one_bit_off_is_caught(self):
        want = self.want.copy()
        want.view(np.int64)[1, 4] ^= 1  # flip the lowest mantissa bit
        with self.assertRaises(checks.CheckError):
            checks.check_page(self.page(self.body), self.ids, want)

    def test_wrong_id_is_caught(self):
        with self.assertRaises(checks.CheckError):
            checks.check_page(self.page(self.body), self.ids + 1, self.want)

    def test_ingest_round_trip_missing_row_is_caught(self):
        short = rs_body(zip(self.ids[:2], self.want[:2]))
        with self.assertRaises(checks.CheckError):
            checks.check_page(self.page(short, 2), self.ids, self.want)

    def test_reference_reduce_sums_left_to_right(self):
        x = np.array([[1e16, 1.0, -1e16, 1.0, 0.5, 0.25, 0.125, 3.0]])
        acc = 0.0
        for v in x[0]:
            acc += v
        self.assertEqual(run.blocked_avg(x, 8)[0, 0], acc / 8.0)

    def test_corpus_digest_mismatch_is_caught(self):
        want = {"rows": 10, "hash": "abc"}
        checks.check_digest({"query": "q", "rows": 10, "hash": "abc"}, want)
        for bad in ({"query": "q", "rows": 11, "hash": "abc"},
                    {"query": "q", "rows": 10, "hash": "abd"},
                    {"query": "q", "error": "boom"}):
            with self.assertRaises(checks.CheckError):
                checks.check_digest(bad, want)
        with self.assertRaises(checks.CheckError):
            checks.check_digest({"query": "q", "rows": 10, "hash": "abc"}, None)


def span(i, parent, name, start, end, req="r"):
    return dict(id=i, parent=parent, req=req, name=name, start=start, end=end)


class SelfTime(unittest.TestCase):
    def test_children_overlaps_and_overhang(self):
        spans = [span(1, -1, "loop", 0, 10),
                 span(2, 1, "op", 1, 3), span(3, 1, "op", 2, 5),
                 span(4, 1, "op", 8, 12)]
        st = stats.self_times(spans)
        # covered: [1,5] and [8,10] (the overhang past 10 does not count)
        self.assertAlmostEqual(st[1], 10 - 4 - 2)
        self.assertAlmostEqual(st[2], 2)
        self.assertAlmostEqual(st[4], 4)

    def test_orphan_jobs_nest_in_the_innermost_container(self):
        spans = [span(1, -1, "statement", 0, 100),
                 span(2, 1, "engine.execute", 10, 90),
                 span(3, -1, "spark.job", 20, 30, req=""),
                 span(4, -1, "spark.job", 95, 99, req=""),
                 span(5, -1, "spark.job", 200, 210, req="")]
        stats.nest_orphans(spans)
        self.assertEqual((spans[2]["parent"], spans[2]["req"]), (2, "r"))
        self.assertEqual(spans[3]["parent"], 1)
        self.assertEqual(spans[4]["parent"], -1)
        tot, cnt = stats.self_by_name(spans)
        self.assertAlmostEqual(tot["engine.execute"], 70)
        self.assertAlmostEqual(tot["statement"], 100 - 80 - 4)
        self.assertEqual(cnt["spark.job"], 3)

    def test_uncovered(self):
        self.assertAlmostEqual(stats.uncovered(0, 10, [(-5, 2), (4, 6), (5, 7)]), 5)


class TrafficMix(unittest.TestCase):
    def test_window_catch_does_not_shift_the_mix(self):
        mix = {"a": 0.75, "b": 0.25}
        few_b = [("a", 1.0)] * 9 + [("b", 4.0)]
        many_b = [("a", 1.0)] * 3 + [("b", 4.0)] * 7
        for s in (few_b, many_b):
            self.assertAlmostEqual(stats.mixed_mean(s, mix), 1.75)
            self.assertAlmostEqual(stats.mixed_geomean(s, mix), 4.0 ** 0.25)


class Percentiles(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.min_samples(50), 20)
        self.assertEqual(stats.min_samples(75), 40)
        self.assertEqual(stats.min_samples(90), 100)
        self.assertEqual(stats.min_samples(95), 200)

    def test_refuses_an_unsupported_tail(self):
        xs = list(range(1, 40))  # 39 samples: p75 has 9 beyond
        with self.assertRaises(ValueError):
            stats.percentile(xs, 75)
        self.assertEqual(stats.percentile(xs + [40], 75), 30)

    def test_highest_supported(self):
        self.assertEqual(stats.highest_percentile(list(range(1, 41))), (75, 30))
        self.assertEqual(stats.highest_percentile(list(range(1, 40)))[0], 50)
        self.assertEqual(stats.highest_percentile(list(range(1, 201)))[0], 95)
        self.assertIsNone(stats.highest_percentile(list(range(1, 20))))


if __name__ == "__main__":
    unittest.main()
