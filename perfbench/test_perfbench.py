"""Self-tests of the benchmark: seeded generators are deterministic, and
every correctness gate catches a deliberately corrupted result.

    python3 -m unittest perfbench/test_perfbench.py

Needs only Python (numpy, pyarrow, duckdb); no JVM and no build.
"""
import copy
import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

TMP = os.path.join(HERE, "out", "selftest")


def digest(d):
    h = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            h[name] = hashlib.sha256(fh.read()).hexdigest()
    return h


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def check(self, write):
        a, b, c = (os.path.join(TMP, x) for x in "abc")
        ta, tb, tc = write(a, 1), write(b, 1), write(c, 2)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ta, tb)
        self.assertNotEqual(digest(a), digest(c))
        return ta, tc

    def test_tables(self):
        self.check(lambda d, s: gen.write_tables(d, s, 0.001))

    def test_backlog(self):
        ta, tc = self.check(
            lambda d, s: gen.write_backlog(d, s, 6, 50, 0.05, 40))
        self.assertNotEqual(ta["stats"], tc["stats"])
        self.assertGreater(ta["dead"], 0)


class GateTest(unittest.TestCase):
    """Each gate passes the right answer and fails a corrupted one."""

    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)
        os.makedirs(TMP)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_query_gate(self):
        data = os.path.join(TMP, "data")
        gen.write_tables(data, 5, 0.001)
        sql = ("SELECT event_type, COUNT(*) AS cnt FROM events "
               "WHERE event_type IN ('click', 'view') GROUP BY event_type")
        res = os.path.join(TMP, "results", "q_x")
        os.makedirs(res)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
        gate = {"results_dir": os.path.join(TMP, "results"), "ok": ["q_x"],
                "expected": ["q_x"], "oracle_sql": {"q_x": sql}}
        con.execute(f"COPY ({sql}) TO '{res}/part-0.parquet' (FORMAT parquet)")
        self.assertEqual(checks.gate_query_mix(ROOT, data, gate), [])
        con.execute(f"COPY (SELECT event_type, cnt + (event_type = 'view')::BIGINT "
                    f"AS cnt FROM ({sql})) TO '{res}/part-0.parquet' (FORMAT parquet)")
        fails = checks.gate_query_mix(ROOT, data, gate)
        self.assertEqual([f["name"] for f in fails], ["q_x"])
        missing = dict(gate, expected=["q_x", "q_gone"])
        self.assertIn("q_gone", [f["name"] for f in
                                 checks.gate_query_mix(ROOT, data, missing)])

    def test_stream_gate(self):
        truth = gen.write_backlog(os.path.join(TMP, "backlog"), 7, 8, 60, 0.05, 30)
        gate = {
            "store": [dict(v, changeset=int(k)) for k, v in truth["stats"].items()],
            "dead": truth["dead"],
            "checkpoint": truth["sequences"] - 1,
            "edit_tiles": {f"{t}|edits": n for t, n in truth["edit_tiles"].items()},
            "facet_tiles": dict(truth["facet_tiles"]),
        }
        self.assertEqual(checks.gate_stream_replay(gate, truth), [])

        def broken(mutate):
            g = copy.deepcopy(gate)
            mutate(g)
            return [f["name"] for f in checks.gate_stream_replay(g, truth)]

        self.assertEqual(broken(lambda g: g["store"][0].update(
            total=g["store"][0]["total"] + 1)), ["stats_topology"])
        self.assertEqual(broken(lambda g: g["store"].pop()), ["stats_topology"])
        self.assertEqual(broken(lambda g: g.update(dead=g["dead"] - 1)),
                         ["stats_topology"])
        self.assertEqual(broken(lambda g: g.update(checkpoint=3)),
                         ["stats_topology"])
        key = sorted(gate["edit_tiles"])[0]
        self.assertEqual(broken(lambda g: g["edit_tiles"].update({key: 0})),
                         ["edit_tiles"])
        key = sorted(gate["facet_tiles"])[0]
        self.assertEqual(broken(lambda g: g["facet_tiles"].pop(key)),
                         ["faceted_tiles"])


if __name__ == "__main__":
    unittest.main()
