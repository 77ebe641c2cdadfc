"""Unit tests of the benchmark's own accounting and input generation.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import tempfile
import unittest
import hashlib
import re

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)  # 91..100 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]),
                         stats.tail(list(range(1, 13))))

    def test_eleven_samples_gives_the_minimum(self):
        v, pct, n = stats.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_falls_back_to_median(self):
        self.assertEqual(stats.tail([1, 2, 3, 100]), (2.5, 50.0, 4))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(stats.interval_union([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.interval_union([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(stats.interval_union([(3, 3), (4, 2)]), 0)
        self.assertEqual(stats.interval_union([]), 0)

    def test_stage_wall_and_driver_gap(self):
        # a 100 ms request with three stages, two of them concurrent
        stages = [(1010, 1040), (1030, 1050), (1070, 1080), (900, 1005)]
        wall = stats.interval_union(stats.clip(stages, 1000, 1100))
        self.assertEqual(wall, 5 + 40 + 10)
        self.assertEqual(100 - wall, 45)

    def test_self_time(self):
        spans = [
            {"id": 1, "parent": -1, "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "t0": 10, "t1": 40},
            {"id": 3, "parent": 1, "t0": 30, "t1": 60},  # overlaps its sibling
            {"id": 4, "parent": 2, "t0": 15, "t1": 20},
            {"id": 5, "parent": 1, "t0": 90, "t1": 120},  # runs past its parent
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (50 + 10))
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 30)


class OpenLoop(unittest.TestCase):
    def test_on_time_batches(self):
        out = stats.lateness([{"due": 0, "start": 0, "end": 4},
                              {"due": 10, "start": 10, "end": 13}])
        self.assertEqual([o["lag"] for o in out], [4, 3])
        self.assertEqual([o["late"] for o in out], [0, 0])

    def test_backlog_is_queueing_not_generator_lateness(self):
        # the first batch overruns the second one's due time by 5
        out = stats.lateness([{"due": 10, "start": 15, "end": 18},
                              {"due": 0, "start": 0, "end": 15}])
        self.assertEqual(out[1], {"lag": 8, "late": 5, "queued": 5, "gen_late": 0})

    def test_generator_lateness(self):
        # the previous batch ended at 4, yet this one started 2 after its due
        out = stats.lateness([{"due": 0, "start": 0, "end": 4},
                              {"due": 10, "start": 12, "end": 15}])
        self.assertEqual(out[1], {"lag": 5, "late": 2, "queued": 0, "gen_late": 2})

    def test_partly_queued(self):
        out = stats.lateness([{"due": 0, "start": 0, "end": 11},
                              {"due": 10, "start": 13, "end": 20}])
        self.assertEqual(out[1], {"lag": 10, "late": 3, "queued": 1, "gen_late": 2})


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class IngestInputs(unittest.TestCase):
    def write(self, seed, seconds=13):
        d = tempfile.mkdtemp(prefix="perfbench_test_")
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        gen.write_ingest(d, seed, seconds)
        return tree_digest(d)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.write(7), self.write(7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.write(7), self.write(8))

    def test_only_deltas_due_in_the_window(self):
        self.assertEqual(gen.delta_count(13, period=12), 1)
        self.assertEqual(gen.delta_count(24, period=12), 1)  # due at 24 is outside
        self.assertEqual(gen.delta_count(25, period=12), 2)

    def test_lifecycle_shape(self):
        inp = gen.ingest_inputs(3, deltas=2)
        bulk, deltas = inp["batches"][0], inp["batches"][1:]
        self.assertEqual(len(deltas), 2)
        self.assertEqual(len(bulk), gen.BULK_PRODUCTS + gen.BULK_MALFORMED)
        self.assertEqual(sum(len(v) for v in inp["manifest"][0].values()), gen.BULK_PDFS)
        per_delta = round(gen.PERIOD_S / gen.ARRIVAL_S)
        self.assertTrue(all(len(b) == per_delta + gen.DELTA_MALFORMED for b in deltas))
        self.assertTrue(all(p.startswith(b"%PDF-") for p in inp["pdfs"].values()))

    def test_pdf_sizes_follow_the_reference_corpus(self):
        inp = gen.ingest_inputs(4, deltas=0)
        mean = sum(len(p) for p in inp["pdfs"].values()) / len(inp["pdfs"])
        self.assertLess(abs(mean / gen.PDF_MEAN_BYTES - 1.0), 0.15)

    def test_bulk_work_is_the_same_for_every_seed(self):
        def bulk(seed):
            inp = gen.ingest_inputs(seed, deltas=0)
            pdfs = [p for ps in inp["manifest"][0].values() for p in ps]
            words = sorted(len(p["text"].split()) for p in pdfs if not p["corrupt"])
            return words, sum(len(inp["pdfs"][p["pdffile"]]) for p in pdfs)
        (w1, b1), (w2, b2) = bulk(1), bulk(2)
        self.assertEqual(w1, w2)
        self.assertLess(abs(b1 / b2 - 1.0), 0.01)
        self.assertGreater(w1[-1], 2.5 * w1[0])

    def test_pdf_content_stream_holds_the_text(self):
        import zlib
        pdf = gen.label_pdf("apply spray crop", 300, bytes(range(128, 256)) * 3)
        bodies = re.findall(rb"[^d]stream\n(.*?)\nendstream", pdf, re.S)
        pad, content = bodies[0], bodies[1]
        self.assertEqual(len(pad), 300)
        self.assertTrue(all(b >= 0x80 for b in pad))
        self.assertIn(b"(apply spray crop) Tj", zlib.decompress(content))


class Tables(unittest.TestCase):
    def test_tables_are_seeded(self):
        a, b, c = gen.tables(5, sf=0.001), gen.tables(5, sf=0.001), gen.tables(6, sf=0.001)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertEqual(a["lineitem"].num_rows, 6000)


if __name__ == "__main__":
    unittest.main()
