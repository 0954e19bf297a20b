"""Tests of the benchmark's own logic (no JVM, no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import random
import tempfile
import time
import unittest

import pyarrow.parquet as pq

import gen
import metrics
import run


def span(i, start, end, parent=-1, req=-1, layer="query", op="topk"):
    return {"id": i, "parent": parent, "req": req, "layer": layer, "op": op,
            "start": start, "end": end}


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(math.isnan(metrics.tail(list(range(1, 100)), 90)))
        self.assertEqual(metrics.tail(list(range(100, 0, -1)), 90), 90)
        self.assertEqual(metrics.tail(list(range(1, 21)), 50), 10)
        self.assertTrue(math.isnan(metrics.tail(list(range(1, 20)), 50)))

    def test_samples_a_tail_needs(self):
        self.assertEqual(metrics.tail_samples(90), 100)
        self.assertEqual(metrics.tail_samples(50), 20)
        self.assertEqual(metrics.tail_samples(99.9), 10000)

    def test_p90_keeps_its_name_and_sample_count(self):
        raw = MetricsTest().raw()
        raw["samples"] += [{"kind": "exact", "ms": float(x), "traced": False}
                           for x in range(1, 99)]
        named = {n: (v, c) for n, v, _, c in metrics.named(raw)}
        self.assertEqual(named["search_p90_ms"], (90.0, 100))
        raw["samples"].pop()
        v, c = {n: (v, c) for n, v, _, c in
                metrics.named(raw)}["search_p90_ms"]
        self.assertTrue(math.isnan(v))
        self.assertEqual(c, 99)

    def test_nearest_rank(self):
        self.assertEqual(metrics.nearest_rank([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(metrics.nearest_rank([5, 1, 3, 2, 4], 100), 5)
        self.assertEqual(metrics.nearest_rank([7], 90), 7)

    def test_median_and_geomean(self):
        self.assertEqual(metrics.median([]), 0.0)
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(metrics.geomean([0, 4, 9]), 6.0)


class WindowTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([(0, 1), (3, 4)], 1, 3), 0)

    def test_job_goes_to_innermost_span_containing_its_start(self):
        spans = [span(0, 100, 200), span(1, 120, 150, parent=0),
                 span(2, 300, 400)]
        jobs = [{"id": 10, "start": 110}, {"id": 11, "start": 130},
                {"id": 12, "start": 160}, {"id": 13, "start": 250},
                {"id": 14, "start": 399}]
        self.assertEqual(metrics.attribute(jobs, spans),
                         {10: 0, 11: 1, 12: 0, 14: 2})

    def test_window_is_widened_to_whole_milliseconds(self):
        spans = [span(0, 100.6, 200.2)]
        got = metrics.attribute(
            [{"id": 1, "start": 100}, {"id": 2, "start": 201},
             {"id": 3, "start": 99}], spans)
        self.assertEqual(got, {1: 0, 2: 0})

    def test_same_start_prefers_the_shorter_span(self):
        spans = [span(0, 100, 200), span(1, 100, 120, parent=0)]
        self.assertEqual(metrics.attribute([{"id": 5, "start": 100}], spans),
                         {5: 1})

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, 0, 100), span(1, 10, 40, parent=0),
                 span(2, 30, 60, parent=0), span(3, 35, 38, parent=2),
                 span(4, 90, 130, parent=0)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 3)
        self.assertEqual(st[3], 3)


class MetricsTest(unittest.TestCase):
    def raw(self):
        return {
            "workload": "index", "traced": True, "setup_s": [2.0],
            "attempted": 3, "failures": [],
            "env": {"nproc": 4, "heap_mb": 4096, "spark": "4.1.2", "cpus": 4,
                    "parts": 8},
            "extra": {"index_bytes": 50, "source_bytes": 100, "postings": 10,
                      "posting_bytes": 60, "docs": 1000, "cached_mb": 1.0},
            "samples": [
                {"kind": "exact", "ms": 300.0, "traced": True},
                {"kind": "exact", "ms": 200.0, "traced": False},
                {"kind": "build", "ms": 1000.0, "traced": True},
                {"kind": "build1", "ms": 2000.0, "traced": True},
                {"kind": "round", "ms": 5000.0, "traced": True}],
            "trace": {
                "spans": [span(0, 0, 1000, req=0, layer="build", op="build"),
                          span(1, 0, 600, 0, 0, "build", "docstore"),
                          span(2, 600, 1000, 0, 0, "build", "postings"),
                          span(3, 2000, 2300, req=1),
                          span(4, 3000, 3400, req=2, op="wand_batch")],
                "jobs": [
                    {"id": 1, "start": 100, "end": 300, "site": "a at Corpus.scala:1",
                     "exec": 7, "run_ms": 400, "tasks": 4},
                    {"id": 2, "start": 700, "end": 900, "site": "b", "exec": 8,
                     "run_ms": 800, "tasks": 8, "output_bytes": 2e6},
                    {"id": 3, "start": 2100, "end": 2200, "site": "c", "exec": 9,
                     "run_ms": 50, "tasks": 1}],
                "execs": [
                    {"id": 9, "start": 2100, "end": 2200, "writes": [],
                     "exchange_bytes": 0,
                     "scans": [{"table": "postings", "files": 3, "bytes": 5e5,
                                "rows": 40, "partitions": 2}]},
                    {"id": 10, "start": 3100, "end": 3300, "writes": [],
                     "exchange_bytes": 2e6, "scans": []}]}}

    def test_per_layer(self):
        m = metrics.per_layer(self.raw())
        self.assertEqual(set(m), {n for n, _ in metrics.PER_LAYER})
        self.assertEqual(m["build.docstore.s"], 0.6)
        self.assertEqual(m["build.docstore.core_s"], 0.4)
        self.assertEqual(m["build.docstore.driver_s"], 0.4)
        self.assertEqual(m["build.postings.output_mb"], 2.0)
        self.assertEqual(m["build.self_s"], 0.0)
        self.assertEqual(m["build.jobs"], 2)
        self.assertEqual(m["sources.dense_ids.core_s"], 0.4)
        self.assertEqual(m["codec.bytes_per_posting"], 6.0)
        self.assertEqual(m["query.request.plan_ms"], 200)
        self.assertEqual(m["query.score.ms"], 100)
        self.assertEqual(m["query.scan.files"], 3)
        self.assertEqual(m["query.scan.mb"], 0.5)
        self.assertEqual(m["plans.wand.exchange_mb"], 2.0)
        self.assertEqual(m["trace.overhead_ms"], 100.0)
        # three timed calls (spans 0, 3, 4) ran three jobs
        self.assertEqual(m["spark.jobs"], 1.0)
        self.assertEqual(m["spark.tasks"], 13 / 3)

    def test_overhead_sums_pipeline_query_medians(self):
        raw = {"workload": "pipeline", "samples": [
            {"kind": "q_lang_id", "ms": 50.0, "traced": True},
            {"kind": "q_lang_id", "ms": 40.0, "traced": False},
            {"kind": "q_dictionary", "ms": 30.0, "traced": True},
            {"kind": "q_dictionary", "ms": 35.0, "traced": False},
            {"kind": "q_quality", "ms": 30.0, "traced": True}]}
        self.assertEqual(metrics.overhead_ms(raw), 5.0)

    def test_end_to_end_and_result_line(self):
        raw = self.raw()
        raw["traced"] = False
        r = metrics.summarize(raw)
        self.assertTrue(r["correct"])
        line = metrics.result_line(r, 0)
        self.assertEqual(set(line), {"correct", "attempted", "failed",
                                     "metrics"})
        self.assertEqual(set(line["metrics"]),
                         {n for n, _ in metrics.END_TO_END})
        self.assertEqual(line["metrics"]["p50_ms"],
                         {"value": 250.0, "unit": "ms"})
        self.assertEqual(line["metrics"]["index_bytes_per_source_byte"]
                         ["value"], 0.5)
        named = {n: (v, c) for n, v, _, c in r["named"]}
        self.assertEqual(named["scaling_efficiency"], (0.5, 1))
        self.assertEqual(named["search_p50_ms"], (250.0, 2))

    def test_any_failure_or_oracle_mismatch_is_incorrect(self):
        raw = self.raw()
        raw["oracle"] = {"q_a": None, "q_b": "rows 1 vs 2"}
        r = metrics.summarize(raw)
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (5, 1))


class OracleTest(unittest.TestCase):
    def test_parses_check_oracle_lines(self):
        out = ("OK   q_a: 3 rows\n"
               "FAIL q_b: rows 1 vs 2\n"
               "FAIL q_c: value mismatch in ['x']; schema duck={} spark={}\n"
               "  duck : [1]\n"
               "  spark: [2]\n")
        self.assertEqual(run.parse_oracle(out, 1), {
            "q_a": None, "q_b": "rows 1 vs 2",
            "q_c": "value mismatch in ['x']; schema duck={} spark={}"})

    def test_a_failed_script_is_a_failure(self):
        self.assertEqual(run.parse_oracle("OK   q_a: 1 rows\n", 0),
                         {"q_a": None})
        got = run.parse_oracle("Traceback ...\n", 1)
        self.assertEqual(list(got), ["check_oracle.py"])
        self.assertTrue(got["check_oracle.py"])

    def compare(self, script):
        """`run.check_oracle` with `script` standing in for the
        repository's compare, over two queries that have an oracle."""
        with tempfile.TemporaryDirectory() as root:
            os.makedirs(os.path.join(root, "tools"))
            with open(os.path.join(root, run.ORACLE), "w") as f:
                f.write(script)
            out = os.path.join(root, "work", "oracle")
            os.makedirs(out)
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"q_a": "SELECT 1", "q_b": "SELECT 2"}, f)
            return run.check_oracle(root, os.path.join(root, "work"),
                                    time.time() + 60)

    def test_the_compare_keeps_its_lines_and_exit_code(self):
        self.assertEqual(self.compare(
            "import sys\nprint('OK   q_a: 1 rows')\n"
            "print('FAIL q_b: rows 1 vs 2')\nsys.exit(1)\n"),
            {"q_a": None, "q_b": "rows 1 vs 2"})

    def test_a_query_without_a_line_is_a_failure(self):
        got = self.compare("print('OK   q_a: 1 rows')\n")
        self.assertEqual(got["q_a"], None)
        self.assertTrue(got["q_b"])

    def test_an_exception_in_the_compare_is_a_failure(self):
        got = self.compare("print('OK   q_a: 1 rows')\nraise ValueError\n")
        self.assertTrue(got["check_oracle.py"])
        self.assertTrue(got["q_b"])


class PlanTest(unittest.TestCase):
    def test_inputs_grow_with_the_seconds(self):
        short, long = run.plan("index", 10), run.plan("index", 60)
        self.assertGreater(long["rounds"], short["rounds"])
        self.assertGreater(long["exact_queries"], short["exact_queries"])
        # at the 4 queries a second no machine reaches, the loop's half
        # of the time still does not run out of queries
        self.assertGreaterEqual(short["exact_queries"], 4 * 10 / 2)
        self.assertEqual(run.plan("pipeline", 10), {})


class GeneratorTest(unittest.TestCase):
    PLAN = {"rounds": 6, "exact_queries": 12, "maint_queries": 5,
            "append_docs": 50, "delete_docs": 40}

    def inputs(self, seed):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.write_inputs(d, seed, 200, self.PLAN)
            docs = pq.read_table(os.path.join(d, "data", "documents.parquet"))
            appends = [pq.read_table(p) for p in plan["appends"]]
            return (json.loads(json.dumps({k: v for k, v in plan.items()
                                           if k != "appends"})),
                    docs.to_pylist(), [a.to_pylist() for a in appends])

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.inputs(7), self.inputs(7))

    def test_other_seed_other_inputs(self):
        a, b = self.inputs(7), self.inputs(8)
        self.assertNotEqual(a[0]["search"], b[0]["search"])
        self.assertNotEqual(a[0]["deletes"], b[0]["deletes"])
        self.assertNotEqual(a[1], b[1])
        self.assertNotEqual(a[2], b[2])

    def test_appended_keys_are_unique(self):
        _, docs, appends = self.inputs(3)
        keys = [(r["repo"], r["path"], r["commit"])
                for batch in appends for r in batch]
        self.assertEqual(len(keys), len(set(keys)))
        self.assertEqual(len(keys), 6 * 50)
        base = {f"src/{d['source']}/{d['doc_id']}.{d['lang']}" for d in docs}
        self.assertFalse(base & {k[1] for k in keys})

    def test_deletes_are_disjoint_live_ids(self):
        # six rounds delete more ids (240) than the base corpus holds
        # (200): later rounds also delete docs that earlier rounds added
        plan, _, _ = self.inputs(3)
        ids = [i for batch in plan["deletes"] for i in batch]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertEqual(len(ids), 6 * 40)
        for b, batch in enumerate(plan["deletes"]):
            self.assertTrue(all(0 <= i < 200 + b * 50 for i in batch))
        self.assertTrue(any(i >= 200 for i in ids))

    def test_queries_use_corpus_terms_and_half_carry_the_rare_term(self):
        qs = gen.queries(random.Random(1), 40)
        vocab = set(gen.COMMON_TERMS) | {gen.RARE_TERM}
        self.assertTrue(all(2 <= len(t) <= 6 and set(t) <= vocab
                            and len(set(t)) == len(t) for _, t in qs))
        self.assertEqual(sum(gen.RARE_TERM in t for _, t in qs), 20)
        self.assertEqual([q for q, _ in qs], list(range(1, 41)))

    def test_query_shapes_do_not_depend_on_the_seed(self):
        def shapes(seed):
            return [(len(t), gen.RARE_TERM in t)
                    for _, t in gen.queries(random.Random(seed), 10, shape=3)]
        self.assertEqual(shapes(1), shapes(2))
        self.assertNotEqual(gen.queries(random.Random(1), 10),
                            gen.queries(random.Random(2), 10))

    def test_exact_queries_are_single_queries(self):
        plan, _, _ = self.inputs(5)
        self.assertEqual(len(plan["exact"]), 12)
        self.assertTrue(all(len(q) == 1 for q in plan["exact"]))

    def test_each_round_has_the_fixed_read_mix(self):
        plan, _, _ = self.inputs(5)
        for rnd in plan["search"]:
            self.assertEqual(sorted(r["kind"] for r in rnd),
                             sorted(gen.ROUND_READS))
            for r in rnd:
                n = 20 if r["kind"] in ("batch", "sql") else 1
                self.assertEqual(len(r["queries"]), n)


if __name__ == "__main__":
    unittest.main()
