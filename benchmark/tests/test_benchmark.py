"""Tests of the benchmark itself: input determinism, the checkers' power to
reject a corrupted result, and the analyst exclusion list's guard.

    python3 -m unittest discover -s benchmark/tests
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402


def digest(directory):
    """Hash of every Parquet file's rows (not its bytes: writer metadata may
    carry library versions)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            h.update(str(pq.read_table(os.path.join(directory, name)).to_pylist()).encode())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for workload, fn in gen.GENERATORS.items():
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as tmp:
                a, b, c = (os.path.join(tmp, x) for x in "abc")
                fn(5, a)
                fn(5, b)
                fn(6, c)
                self.assertEqual(digest(a), digest(b))
                self.assertNotEqual(digest(a), digest(c))

    def test_season_deliveries_redeliver_and_resend(self):
        with tempfile.TemporaryDirectory() as tmp:
            m = gen.season_inputs(3, tmp)
            ds = m["deliveries"]
            self.assertEqual(len(ds), gen.DELIVERED_WEEKS + 1)
            self.assertEqual(sum(1 for d in ds if d.get("resent")), 1)
            # from week 2 on a delivery carries more rows than it has new plays
            self.assertTrue(all(d["rows"] > d["fresh"] for d in ds if d["week"] > 1))

    def test_chain_lengths_follow_the_stated_distribution(self):
        n = 1000
        lengths = list(gen.geometric_lengths(n))
        for k in range(1, 5):
            share = sum(1 for x in lengths if x == k) / n
            self.assertAlmostEqual(share, gen.CHAIN_P * (1 - gen.CHAIN_P) ** (k - 1), delta=0.01)


class CheckerTest(unittest.TestCase):
    def test_union_find_rejects_one_relabeled_node(self):
        nodes = [1, 2, 3, 4, 5]
        edges = [(1, 2), (2, 3), (4, 5)]
        good = [{"doc_id": n, "cluster_id": c} for n, c in
                checks.union_find_labels(nodes, edges).items()]
        self.assertIsNone(checks.label_cause(nodes, edges, good, 2))
        bad = [dict(r, cluster_id=5) if r["doc_id"] == 4 else r for r in good]
        self.assertIn("differ", checks.label_cause(nodes, edges, bad, 2))
        self.assertIn("labels for", checks.label_cause(nodes, edges, good[:-1], 2))

    def test_compare_rows_rejects_dropped_row_and_altered_cell(self):
        exp = [{"team": "SEA", "n": 3, "rate": 0.5}, {"team": "LA", "n": 2, "rate": 0.25}]
        self.assertIsNone(checks.compare_rows(list(reversed(exp)), exp))
        self.assertIn("rows", checks.compare_rows(exp[:1], exp))
        altered = [dict(exp[0], rate=0.5000001), exp[1]]
        self.assertIn("differ", checks.compare_rows(altered, exp))

    def test_oracle_compare_rejects_dropped_row_and_altered_cell(self):
        check = checks._repo_check_module()
        con = duckdb.connect()
        sql = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5)) t(k, s, v)"
        rows = {"k": [2, 1], "s": ["b", "a"], "v": [1.5, 0.5]}
        with tempfile.TemporaryDirectory() as tmp:
            def write(cols):
                d = tempfile.mkdtemp(dir=tmp)
                pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))
                return d
            self.assertIsNone(checks.compare_oracle(check, con, write(rows), sql))
            dropped = {k: v[:1] for k, v in rows.items()}
            self.assertIn("rows", checks.compare_oracle(check, con, write(dropped), sql))
            altered = dict(rows, v=[1.5, 0.75])
            self.assertIn("differ", checks.compare_oracle(check, con, write(altered), sql))

    def test_ann_check_rejects_altered_score(self):
        emb = {1: [1.0, 0.0], 2: [0.9, 0.1], 3: [0.0, 1.0]}
        rows = [{"q_id": 1, "rank": 1, "c_id": 2,
                 "cosine": round(checks.exact_cosine(emb[1], emb[2]), 6)},
                {"q_id": 1, "rank": 2, "c_id": 3,
                 "cosine": round(checks.exact_cosine(emb[1], emb[3]), 6)}]
        self.assertIsNone(checks.check_ann(rows, emb, 1, 1, 2)[0])
        bad = [rows[0], dict(rows[1], cosine=0.25)]
        self.assertIn("exact", checks.check_ann(bad, emb, 1, 1, 2)[0])


class ExclusionGuardTest(unittest.TestCase):
    """The analyst exclusion list must name registered queries, so a rename
    fails loudly instead of re-admitting a memoizing query."""

    def run_guard(self, *extra):
        jar, jars, _ = build.build()
        return subprocess.run(
            ["java", "-XX:-UsePerfData", "-cp", f"{jar}{os.pathsep}{build.classpath(jars)}",
             "graftbench.AnalystQueries", *extra],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)

    def test_exclusions_are_registered_queries(self):
        p = self.run_guard()
        self.assertEqual(p.returncode, 0, p.stdout[-2000:])
        self.assertIn("eligible", p.stdout)

    def test_unknown_exclusion_fails_loudly(self):
        p = self.run_guard("no_such_query")
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("no_such_query", p.stdout)


if __name__ == "__main__":
    unittest.main()
