"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import hashlib
import os
import re
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TailPercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile(list(range(99)), 90)
        with self.assertRaises(ValueError):
            stats.tail_percentile(list(range(999)), 99)

    def test_reports_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(stats.tail_percentile(list(range(1, 1001)), 99), 990)


class GeneratorTest(unittest.TestCase):
    def test_equal_seeds_give_identical_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for name, make in (("corpus", gen.corpus), ("lake", gen.lake)):
                a, b, c = (os.path.join(t, f"{name}-{i}") for i in "abc")
                make(7, a)
                make(7, b)
                make(8, c)
                self.assertEqual(tree_digest(a), tree_digest(b), name)
                self.assertNotEqual(tree_digest(a), tree_digest(c), name)


class DigestCheckTest(unittest.TestCase):
    SQL = {"q_short": "SELECT doc_id, lang FROM documents WHERE n_chars < 30"}

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.inp = os.path.join(self.tmp.name, "in")
        os.makedirs(self.inp)
        pq.write_table(pa.table({
            "doc_id": pa.array(range(100), pa.int64()),
            "lang": ["en", "de"] * 50,
            "n_chars": pa.array([i % 50 for i in range(100)], pa.int64())}),
            os.path.join(self.inp, "documents.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, corrupt):
        out = os.path.join(self.tmp.name, "corrupt" if corrupt else "ok")
        os.makedirs(os.path.join(out, "q_short"))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.inp}/documents.parquet'")
        rows = con.sql(self.SQL["q_short"]).arrow()
        if corrupt:  # one wrong value in one row
            langs = rows.column("lang").to_pylist()
            langs[3] = "fr"
            rows = rows.set_column(1, "lang", pa.array(langs))
        pq.write_table(rows, os.path.join(out, "q_short", "part-0.parquet"))
        return out

    def run_check(self, corrupt):
        cache = os.path.join(self.tmp.name, "cache")
        return check.check_corpus(self.inp, self.result(corrupt), self.SQL,
                                  {"q_short": 3}, cache, lambda m: None)

    def test_correct_result_passes(self):
        self.assertEqual(self.run_check(corrupt=False), 0)

    def test_corrupted_result_fails_every_op_of_the_query(self):
        self.assertEqual(self.run_check(corrupt=True), 3)


class ClosureRewriteTest(unittest.TestCase):
    """The union-find replay of a recursive closure oracle gives the
    recursive CTE's digest."""
    HEAD = ("WITH RECURSIVE pairs AS (SELECT * FROM (VALUES (1, 2), (2, 3), (3, 1), (5, 6), "
            "(4, 6)) t(id_a, id_b)),\nedges AS (SELECT id_a AS u, id_b AS v FROM pairs\n"
            "  UNION ALL SELECT id_b, id_a FROM pairs),\n"
            "cc(id, x) AS (SELECT doc_id, doc_id FROM documents\n"
            "  UNION SELECT cc.id, e.v FROM cc JOIN edges e ON cc.x = e.u)")
    TAILS = ("\nSELECT id AS doc_id, min(x) AS component FROM cc GROUP BY id",
             ",\nkeep AS (SELECT id AS doc_id FROM cc GROUP BY id HAVING id = min(x))\n"
             "SELECT d.lang, COUNT(*) AS n_kept FROM documents d JOIN keep USING (doc_id) "
             "GROUP BY d.lang")

    def test_same_digest_as_the_recursive_cte(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT range AS doc_id, "
                     "CASE WHEN range % 3 = 0 THEN 'en' ELSE 'de' END AS lang FROM range(10)")
        for tail in self.TAILS:
            sql = self.HEAD + tail
            rewritten = check.closure_rewrite(con, sql)
            self.assertNotIn("JOIN edges", rewritten)
            self.assertEqual(check.digest(con, rewritten), check.digest(con, sql))
        self.assertEqual(check.closure_rewrite(con, "SELECT 1"), "SELECT 1")
        other = self.HEAD.replace("cc.x = e.u", "cc.x = e.v") + self.TAILS[0]
        self.assertEqual(check.closure_rewrite(con, other), other)


class LakeReplayTest(unittest.TestCase):
    def test_corrupted_final_table_fails(self):
        with tempfile.TemporaryDirectory() as t:
            rows = "1,1,1.50,2,item-1,2024-01-01 00:00:00,1\n2,2,2.50,3,item-2,2024-01-02 00:00:00,1\n"
            gen._datadir(os.path.join(t, "j1"), "upsert", rows=rows)
            log = [["job", "j1", 2]]
            con = duckdb.connect()
            good = ("SELECT 1::BIGINT id, 1::BIGINT grp, 1.50::DECIMAL(38,9) amount, 2::BIGINT qty, "
                    "'item-1' AS name, TIMESTAMP '2024-01-01' AS ts, 1::BIGINT batch UNION ALL "
                    "SELECT 2, 2, 2.50, 3, 'item-2', TIMESTAMP '2024-01-02', 1")
            for name, sql in (("good", good), ("bad", good.replace("'item-2'", "'item-X'"))):
                os.makedirs(os.path.join(t, name))
                con.execute(f"COPY ({sql}) TO '{t}/{name}/part-0.parquet' (FORMAT PARQUET)")
            self.assertEqual(check.check_lake(t, f"{t}/good", log, 100, lambda m: None)[0], 0)
            self.assertEqual(check.check_lake(t, f"{t}/bad", log, 100, lambda m: None)[0], 1)


class MetricNamesTest(unittest.TestCase):
    """run.py reports exactly the metrics BENCHMARK.json declares."""

    def test_reported_names_and_units_match_the_spec(self):
        op = {"op": "op1", "kind": "query", "name": "q", "start": 0, "end": 10,
              "jobs": 1, "stages": 1, "tasks": 1, "busy_ms": 5, "exec_run_ms": 4,
              "exec_cpu_ms": 3, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
              "spill_bytes": 0, "result_bytes": 1, "plan_ms": 1,
              "broadcast_build_ms": 0, "broadcast_bytes": 0}
        r = {"passes": [{"wall_ms": 10.0, "cpu_ms": 20.0}],
             "samples": [["query", "q", 10.0], ["job", "j", 10.0]],
             "setup_end_epoch_ms": 2000, "first_op_ms": 5.0, "bytes_written": 1,
             "bytes_in": 2, "peak_rss_kb": 1024, "jit_setup_ms": 1, "gc_ms": 1,
             "table_bytes": 0, "trace": {"ops": [op]}}
        for kind in ("corpus", "lake"):  # every workload reports every metric
            for section, got in (("end_to_end", run.end_to_end(r, 1.0, kind)),
                                 ("per_layer", run.per_layer(r, kind, 1))):
                self.assertEqual(run.manifest_units(section),
                                 {k: u for k, (_, u) in got.items()}, (kind, section))

    def test_queries_match_the_harness(self):
        with open(os.path.join(run.BENCH, "scala", "PerfBench.scala")) as f:
            src = f.read()
        block = src[src.index("val Queries"):src.index("val EmbeddingQueries")]
        self.assertEqual(sorted(re.findall(r'"(q\d+_\w+)"', block)), run.QUERIES)


if __name__ == "__main__":
    unittest.main()
