"""Self-tests of the benchmark: generator, output checks, and one tiny day.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test runs the harness JVM on a tiny day and is skipped until the
benchmark has been built once (python3 perfbench/run.py ... builds it).
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

# 51 spans: the scale that turns the day-json shape into a tiny day
TINY_SEED, TINY_SCALE = 107, 51.5 / gen.DAY_SHAPES["day-json"]["spans"]

# The tiny day (seed 107: 51 spans in 8 traces, one span reported twice,
# and 1 malformed line) linked by hand, trace by trace, from the rules in
# DependencyLinker.scala's header:
#  02d2ed… (128-bit): the root names web-client -> web-client->svc-03;
#      svc-03 calls svc-04, svc-22, svc-12 and svc-20 twice (one server
#      half errored; one client half names no remote, so the server's
#      service is the child); svc-04->svc-02; svc-20->svc-26; svc-20->svc-28
#      (the error is on the CLIENT half: not counted); svc-22->ldap under a
#      local span that adds nothing.
#  0e48e7… (128-bit): svc-00->svc-19, svc-00->mysql, svc-19 produces to
#      kafka, kafka feeds svc-26.
#  19a165…: svc-03->s3.   36890a…: svc-01->redis.   7ea1db…: a lone root.
#  1b337d… (128-bit, root reported twice): svc-03->svc-00, svc-03->svc-10,
#      svc-03->s3 (s3 twice in all).
#  27cf60…: two local spans, svc-03->svc-27.
#  35327e… (reported at both widths, even within one RPC): svc-01 produces
#      to rabbitmq, rabbitmq feeds svc-24, svc-24->svc-23, svc-01->svc-34
#      under a local span, svc-01->svc-17.
#  the malformed line is a truncated copy without an id: dropped.
TINY_LINKS = {
    ("web-client", "svc-03"): (1, 0), ("svc-03", "svc-04"): (1, 0),
    ("svc-03", "svc-22"): (1, 0), ("svc-03", "svc-12"): (1, 0), ("svc-03", "svc-20"): (2, 1),
    ("svc-04", "svc-02"): (1, 0), ("svc-20", "svc-26"): (1, 0), ("svc-20", "svc-28"): (1, 0),
    ("svc-22", "ldap"): (1, 0),
    ("svc-00", "svc-19"): (1, 0), ("svc-00", "mysql"): (1, 0), ("svc-19", "kafka"): (1, 0),
    ("kafka", "svc-26"): (1, 0),
    ("svc-03", "s3"): (2, 0), ("svc-01", "redis"): (1, 0),
    ("svc-03", "svc-00"): (1, 0), ("svc-03", "svc-10"): (1, 0), ("svc-03", "svc-27"): (1, 0),
    ("svc-01", "rabbitmq"): (1, 0), ("rabbitmq", "svc-24"): (1, 0), ("svc-24", "svc-23"): (1, 0),
    ("svc-01", "svc-34"): (1, 0), ("svc-01", "svc-17"): (1, 0),
}


def tiny_day(out):
    return gen.generate_day("day-json", TINY_SEED, out, scale=TINY_SCALE)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        cases = [("day-json", 0.002), ("day-whale", 0.01), ("curation-graph", 1.0)]
        for workload, scale in cases:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(workload, 5, a, scale)
                gen.generate(workload, 5, b, scale)
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(os.listdir(b)))
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)

    def test_another_seed_gives_other_inputs_of_the_same_size(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen.generate("day-json", 1, a, 0.002)
            mb = gen.generate("day-json", 2, b, 0.002)
            self.assertEqual(ma["spans"], mb["spans"])
            self.assertFalse(filecmp.cmp(os.path.join(a, "spans.jsonl"),
                                         os.path.join(b, "spans.jsonl"), shallow=False))

    def test_planted_features_are_recorded(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("day-whale", 3, d, 0.2)
            shape = gen.DAY_SHAPES["day-whale"]
            self.assertEqual(m["whale_spans"], 1 + 3 * int(shape["whale_units"] * 0.2))
            self.assertEqual(m["max_spans_per_trace"], 1 + 3 * int(shape["whale_cap_units"] * 0.2))
            self.assertLess(m["largest_ordinary_trace"], m["max_spans_per_trace"])
            for k in ("duplicates", "malformed", "traces_128bit", "roots_before_day",
                      "traces_crossing_day_end"):
                self.assertGreater(m[k], 0, k)
            self.assertEqual(sum(m["trace_size_histogram"].values()), m["traces"])
            self.assertEqual(m["input_rows"], m["spans"] + m["malformed"])


class CheckerTest(unittest.TestCase):
    def test_flags_a_planted_wrong_link(self):
        with tempfile.TemporaryDirectory() as d:
            tiny_day(d)
            expected = check.read_links(os.path.join(d, "expected_links.tsv"))
        self.assertEqual(check.link_diff(expected, dict(expected)), [])
        wrong = dict(expected)
        wrong[("svc-03", "svc-20")] = (2, 0)  # error count lost
        self.assertEqual(len(check.link_diff(expected, wrong)), 1)
        extra = dict(expected)
        extra[("svc-00", "svc-99")] = (1, 0)  # invented link
        self.assertEqual(len(check.link_diff(expected, extra)), 1)
        missing = dict(expected)
        del missing[("kafka", "svc-26")]
        self.assertEqual(len(check.link_diff(expected, missing)), 1)

    def test_graph_rows_compare_order_free_with_rounding(self):
        a = [{"node": "s:1", "rank_u": 10}, {"node": "c:2", "rank_u": 0.12341}]
        b = [{"rank_u": 0.123412, "node": "c:2"}, {"node": "s:1", "rank_u": 10.0}]
        self.assertEqual(check.canon_rows(a), check.canon_rows(b))
        c = [{"node": "s:1", "rank_u": 11}, {"node": "c:2", "rank_u": 0.12341}]
        self.assertNotEqual(check.canon_rows(a), check.canon_rows(c))


class TinyDayTest(unittest.TestCase):
    def test_generator_expectation_matches_hand_derivation(self):
        with tempfile.TemporaryDirectory() as d:
            m = tiny_day(d)
            self.assertEqual((m["spans"], m["duplicates"], m["malformed"]), (52, 1, 1))
            expected = check.read_links(os.path.join(d, "expected_links.tsv"))
        self.assertEqual(check.link_diff(TINY_LINKS, expected), [])

    @unittest.skipUnless(os.path.isdir(os.path.join(run.BENCH, "target", "scala-2.13", "classes")),
                         "benchmark not built yet")
    def test_program_links_match_hand_derivation(self):
        with tempfile.TemporaryDirectory() as d:
            data, work = os.path.join(d, "data"), os.path.join(d, "work")
            os.makedirs(work)
            m = tiny_day(data)
            cmd = run.java_cmd([
                "--mode", "day", "--cores", "2", "--partitions", "2", "--work", work,
                "--seconds", "0", "--trace", "0", "--data", data, "--input", m["input"],
                "--format", "json", "--day", m["day"], "--admission", m["admission"],
                "--cap", "0", "--result", os.path.join(work, "result.json")])
            subprocess.run(cmd, cwd=work, check=True, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL, timeout=170)
            with open(os.path.join(work, "result.json")) as f:
                samples = json.load(f)["samples"]
            self.assertEqual([s["error"] for s in samples], [None] * len(samples))
            got = check.read_links(os.path.join(work, "links-0.tsv"))
        self.assertEqual(check.link_diff(TINY_LINKS, got), [])


if __name__ == "__main__":
    unittest.main()
