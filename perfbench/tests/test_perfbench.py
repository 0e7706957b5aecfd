"""The benchmark's own tests: input determinism, the tail-percentile
rule, span self-time arithmetic, and the oracle-side helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            a, pa, da = gen.generate(w, 7)
            b, pb, db = gen.generate(w, 7)
            self.assertEqual(a, b, w)
            self.assertEqual(da, db, w)
            self.assertEqual(pa, pb, w)

    def test_other_seed_other_bytes_same_volume(self):
        for w in gen.GENERATORS:
            a, pa, da = gen.generate(w, 7)
            b, pb, db = gen.generate(w, 8)
            self.assertNotEqual(da, db, w)
            self.assertEqual({k: len(v.splitlines()) for k, v in a.items()},
                             {k: len(v.splitlines()) for k, v in b.items()}, w)

    def test_catalog_realises_fixed_histogram(self):
        tables, props = gen.gen_audio(3)
        cks = [r["c_custkey"] for r in tables["customer"]]
        self.assertEqual(len(set(cks)), gen.N_CHANNELS)
        self.assertTrue(all(ck % 211 == 0 for ck in cks))
        cells = sorted((len(gen.channel_videos(ck)), gen.quota_for(ck)) for ck in cks)
        self.assertEqual(cells, sorted(gen.fixed_cells(gen.N_CHANNELS)))
        self.assertEqual(props["videos"], sum(v for v, _ in cells))

    def test_java_hash(self):
        # values of java.lang.String.hashCode, one of them overflowing
        self.assertEqual(gen.java_hash(""), 0)
        self.assertEqual(gen.java_hash("a"), 97)
        self.assertEqual(gen.java_hash("hello world"), 1794106052)
        self.assertEqual(gen.java_hash("polygenelubricants"), -2147483648)

    def test_refresh_split(self):
        tables, props = gen.gen_text_corpus(5)
        base = {r["doc_id"] for r in tables["documents"]}
        self.assertTrue(all(i % 3 != 0 for i in base))
        novel_by_inc = {}
        for r in tables["increments"]:
            if r["doc_id"] % 3 == 0:
                novel_by_inc.setdefault(r["inc"], []).append(r["doc_id"])
            else:
                self.assertIn(r["doc_id"], base)
        # novel ids grow across increments: in-order delivery
        incs = sorted(novel_by_inc)
        for a, b in zip(incs, incs[1:]):
            self.assertLess(max(novel_by_inc[a]), min(novel_by_inc[b]))
        crawl = {r["doc_id"] for r in tables["crawl"]}
        self.assertEqual(crawl, base | {i for v in novel_by_inc.values() for i in v})


class TailTest(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))          # p95 has 5 beyond, p90 has 10
        self.assertEqual(metrics.tail(xs), (90.0, 90, 10))

    def test_falls_back_to_lower_percentiles(self):
        xs = list(range(1, 21))           # p75 -> 5 beyond, p50 -> 10
        self.assertEqual(metrics.tail(xs), (50.0, 10, 10))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertIsNone(metrics.tail([]))

    def test_ties_do_not_count_as_beyond(self):
        xs = [5.0] * 50 + [9.0] * 9
        self.assertIsNone(metrics.tail(xs))

    def test_large_sample_uses_high_percentile(self):
        xs = list(range(20000))
        p, v, beyond = metrics.tail(xs)
        self.assertEqual(p, 99.9)
        self.assertGreaterEqual(beyond, 10)


class SelfTimeTest(unittest.TestCase):

    def span(self, i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start_ms": s, "end_ms": e}

    def test_self_is_duration_minus_children(self):
        spans = [self.span(0, -1, "job", 0, 100), self.span(1, 0, "a", 10, 40),
                 self.span(2, 0, "b", 50, 90), self.span(3, 2, "c", 55, 65)]
        nodes = {n["name"]: n for n in metrics.span_tree(spans)}
        self.assertEqual(nodes["job"]["self"], 100 - 30 - 40)
        self.assertEqual(nodes["a"]["self"], 30)
        self.assertEqual(nodes["b"]["self"], 40 - 10)
        self.assertEqual(nodes["c"]["self"], 10)
        self.assertEqual(metrics.reconcile(metrics.span_tree(spans)), 100)

    def test_children_are_clipped_and_unioned(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.union_length([(-5, 10), (90, 120)], 0, 100), 20)
        self.assertEqual(metrics.union_length([], 0, 100), 0)

    def test_jobs_hang_under_innermost_span(self):
        spans = [self.span(0, -1, "job", 0, 100), self.span(1, 0, "sink.x", 10, 60)]
        jobs = [{"start_ms": 20, "end_ms": 30, "site": "s1"},
                {"start_ms": 70, "end_ms": 80, "site": "s2"},
                {"start_ms": 75, "end_ms": -1, "site": "unfinished"}]
        nodes = metrics.span_tree(spans, jobs)
        by = {n["name"]: n for n in nodes}
        self.assertEqual(by["s1"]["parent"], 1)
        self.assertEqual(by["s2"]["parent"], 0)
        self.assertNotIn("unfinished", by)
        # jobs do not change the spans' self-time sum
        self.assertEqual(metrics.reconcile(nodes), 100)
        self.assertEqual(len(metrics.under(nodes, {"sink.x"})), 2)


class DeclarationTest(unittest.TestCase):

    def test_benchmark_json_matches_the_emitted_metrics(self):
        import json
        import run
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = json.load(open(os.path.join(os.path.dirname(here), "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(k, metrics.unit_of(k)) for k in metrics.PER_LAYER])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(oracle.FACES))
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class OracleHelpersTest(unittest.TestCase):

    def test_split_ctes(self):
        sql = ("WITH a AS (SELECT 1 AS x, ')' AS y), "
               "b AS (WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 3) "
               "SELECT n FROM r)\nSELECT * FROM a, b ORDER BY n")
        ctes, final = oracle.split_ctes(sql)
        self.assertEqual([n for n, _ in ctes], ["a", "b"])
        self.assertEqual(ctes[0][1], "SELECT 1 AS x, ')' AS y")
        self.assertTrue(final.startswith("SELECT * FROM a, b"))

    def test_replay_matches_inline_evaluation(self):
        import duckdb
        sql = ("WITH a AS (SELECT range AS i FROM range(5)), b AS (SELECT i * 2 AS j FROM a)\n"
               "SELECT sum(j) AS s FROM b")
        con = duckdb.connect()
        self.assertEqual(oracle.replay(con, sql).fetchall(), duckdb.sql(sql).fetchall())

    def test_render_is_order_free_and_typed(self):
        d1 = oracle.render([(1, "x", None), (2, "y", True)], ["b", "a", "c"])
        d2 = oracle.render([(2, "y", True), (1, "x", None)], ["b", "a", "c"])
        self.assertEqual(d1, d2)
        import hashlib
        want = hashlib.md5("x\t1\t\\N\ny\t2\ttrue".encode()).hexdigest()
        self.assertEqual(d1, (want, 2))

    def test_curation_stage_lines(self):
        src = "a\n    val n1 = gated.count()\nb\n    val n3 = clean.count()\n"
        lines = metrics.curation_stage_lines(src)
        self.assertEqual(lines, {2: "text.gate", 4: "dedup.near"})
        self.assertEqual(metrics.site_stage(
            "graft.text.CurationPipeline$.run(CurationPipeline.scala:2)", lines), "text.gate")
        self.assertEqual(metrics.site_stage(
            "graft.dedup.Dedup$.minHashLshPairs(Dedup.scala:1480)", lines), "dedup.near")
        self.assertIsNone(metrics.site_stage("collect at Harness.scala:9", lines))


if __name__ == "__main__":
    unittest.main()
