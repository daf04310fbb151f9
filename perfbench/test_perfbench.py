"""Self-tests of the benchmark's Python side (no JVM, no build):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import tempfile
import unittest

import check
import compare
import gen
import metrics


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for workload in ("ods_cdc", "llm_curation"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(workload, 7, a)
                gen.generate(workload, 7, b)
                pending = [filecmp.dircmp(a, b)]
                while pending:
                    cmp = pending.pop()
                    self.assertFalse(cmp.diff_files or cmp.left_only or cmp.right_only, workload)
                    pending.extend(cmp.subdirs.values())

    def test_windows_cover_the_feed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("ods_cdc", 3, d)
            con = check._con(d)
            for start, end, n_orders, n_lines, _, _ in check._windows(d)[:3]:
                for feed, n in (("feed_orders", n_orders), ("feed_lineitem", n_lines)):
                    got = con.execute(f"""SELECT count(*) FROM {feed} WHERE updated_at >= TIMESTAMP '{start}'
                                          AND updated_at < TIMESTAMP '{end}'""").fetchone()[0]
                    self.assertEqual(got, int(n))

    def test_backdate_restates_the_past_day(self):
        """The re-pull holds every change of the past day: the ODS snapshot
        has all of them but the late ones, and no row of the day is ever
        deleted by a later window."""
        with tempfile.TemporaryDirectory() as d:
            p = gen.generate("ods_cdc", 4, d)
            con = check._con(d)
            with open(f"{d}/backdate.tsv") as f:
                start, end, n_orders, n_lines = f.read().split("\t")
            day = f"updated_at >= TIMESTAMP '{start}' AND updated_at < TIMESTAMP '{end}'"
            q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
            self.assertEqual(q(f"SELECT count(*) FROM feed_orders WHERE {day}"), int(n_orders))
            self.assertEqual(q(f"SELECT count(*) FROM feed_lineitem WHERE {day}"), int(n_lines))
            late = q(f"SELECT count(*) FROM (SELECT * FROM feed_orders WHERE {day} EXCEPT ALL "
                     f"SELECT * FROM ods_orders)")
            self.assertEqual(late, p["late_orders"])
            self.assertGreater(late, 0)
            self.assertEqual(q(f"""SELECT count(*) FROM feed_lineitem d JOIN feed_lineitem x
                USING (l_orderkey, l_linenumber) WHERE {day.replace("updated_at", "d.updated_at")}
                AND x.op = 'D'"""), 0)


class ReplayTest(unittest.TestCase):
    def test_exact_jaccard_index(self):
        words = [f"w{i}" for i in range(60)]
        idx = check._Index()
        idx.add(check._shingles(" ".join(words)))
        near = list(words)
        near[30] = "changed"             # 3 of 58 shingles differ: J ~ 0.9
        far = [w if i % 3 else "x" for i, w in enumerate(words)]
        self.assertTrue(idx.has_match(check._shingles(" ".join(near).upper())))
        self.assertFalse(idx.has_match(check._shingles(" ".join(far))))


class MetricsTest(unittest.TestCase):
    def test_quantile(self):
        self.assertEqual(metrics.quantile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)
        self.assertEqual(metrics.quantile([1.0, 2.0], 0.75), 1.75)
        self.assertEqual(metrics.quantile([1.0, float("inf")], 0.75), float("inf"))

    def test_regular_and_maintenance_ops_apart(self):
        ops = [{"maint": i % 2 == 0, "ok": True, "ms": 10.0 * (i + 1), "cpu_ms": 100.0 + i,
                "jit_cpu_ms": 5.0, "counts": {"rows": 10}} for i in range(4)]
        res = {"ops": ops, "loop_s": 1.0,
               "setup": {"setup_s": 1.0, "session_s": 0.2, "build_s": 0.3, "warmup_s": 0.5}}
        values, _ = metrics.end_to_end("ods_cdc", res, {"stored_bytes": 10, "live_rows": 5})
        self.assertEqual(values["op_cpu_ms"][0], 102.0)
        self.assertEqual(values["maint_op_cpu_ms"][0], 101.0)
        self.assertEqual(values["work_per_cpu_s"][0], 40 / 0.406)

    def test_spec_matches_metric_lists(self):
        spec = compare.load_spec()
        self.assertEqual([m["name"] for m in spec["end_to_end"]], [n for n, _ in metrics.END_TO_END])
        self.assertEqual([m["name"] for m in spec["per_layer"]], [m[0] for m in metrics.PER_LAYER])


class CompareTest(unittest.TestCase):
    def rows(self, side, values):
        return [{"side": side, "pair": i, "result": {"metrics": {"m": {"value": v}}}}
                for i, v in enumerate(values)]

    def test_verdicts(self):
        m = {"bound": 0.1}
        base = self.rows("base", [100, 101, 99, 100, 102, 98, 100, 101, 99, 100])
        faster = self.rows("change", [90, 91, 89, 90, 92, 88, 90, 91, 89, 90])
        slower = self.rows("change", [120, 121, 119, 120, 122, 118, 120, 121, 119, 120])
        noisy = self.rows("base", [60, 140, 70, 130, 80, 120, 90, 110, 100, 100])
        self.assertTrue(compare.verdict({"base": base, "change": faster}, "m", m, True).endswith("gain"))
        self.assertTrue(compare.verdict({"base": base, "change": slower}, "m", m, True).endswith("worse"))
        self.assertTrue(compare.verdict({"base": noisy, "change": base}, "m", m, True).endswith("unresolved"))


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.abspath(__file__)))
    unittest.main()
