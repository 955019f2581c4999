"""Tests of the benchmark's own parts: the generator is deterministic, and
the output checks catch a planted defect.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen_inbox  # noqa: E402

SCALE = 0.004  # 60 providers: the generator's floor is 50


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen_inbox.write(gen_inbox.model(5, SCALE), a)
            gen_inbox.write(gen_inbox.model(5, SCALE), b)
            self.assertEqual(gen_inbox.digest(a), gen_inbox.digest(b))
            with tempfile.TemporaryDirectory() as c:
                gen_inbox.write(gen_inbox.model(6, SCALE), c)
                self.assertNotEqual(gen_inbox.digest(a), gen_inbox.digest(c))

    def test_release_shape(self):
        m = gen_inbox.model(5, 0.1)
        n = len(m["day1"]["providers"])
        self.assertEqual(n, 1500)
        self.assertEqual(len(m["changed"]), 15)
        self.assertEqual(len(m["new"]), 8)
        self.assertEqual(len(m["day2"]["providers"]), n + 8)
        self.assertEqual(len(m["day1"]["quality"]), 17 * n)
        self.assertEqual(len(m["day1"]["surveys"]), 3 * n)
        self.assertAlmostEqual(len(m["day1"]["penalties"]) / n, 0.8, delta=0.1)

    def test_redelivered_file_is_identical_and_cells_are_padded(self):
        with tempfile.TemporaryDirectory() as out:
            gen_inbox.write(gen_inbox.model(5, SCALE), out)
            for name in gen_inbox.REDELIVERED["inbox-day2"]:
                p1 = os.path.join(out, "inbox-day1", name)
                p2 = os.path.join(out, "inbox-day2", name)
                with open(p1, "rb") as f1, open(p2, "rb") as f2:
                    self.assertEqual(f1.read(), f2.read())
                self.assertEqual(os.stat(p1).st_mtime, os.stat(p2).st_mtime)
            with open(os.path.join(out, "inbox-day1",
                                   "NH_ProviderInfo_Apr2025.csv")) as f:
                text = f.read()
            self.assertIn("CMS Certification Number (CCN)", text)
            self.assertTrue(" ," in text or ", " in text)


def write_table(con, path, cols, rows):
    """rows: list of tuples of str/None, written as one parquet file."""
    os.makedirs(path, exist_ok=True)
    con.sql(f"CREATE OR REPLACE TABLE t ({', '.join(f'{c} VARCHAR' for c in cols)})")
    if rows:
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' for _ in cols)})",
                        rows)
    con.sql(f"COPY t TO '{path}/part-0.parquet' (FORMAT parquet)")


def fake_outputs(m, root):
    """A lake and warehouse holding exactly what a correct day-2 load
    leaves behind, built from the generator."""
    con = duckdb.connect()
    rel = m["day2"]
    clean = checks._clean
    lake, wh = os.path.join(root, "lake"), os.path.join(root, "warehouse")
    os.makedirs(os.path.join(lake, "error", "raw_other"))
    open(os.path.join(lake, "error", "raw_other",
                      gen_inbox.UNKNOWN_FILES["inbox-day2"]), "w").close()
    pcols = [c for _, c in gen_inbox.PROVIDER_COLS]
    prow = [tuple(clean(p[c]) for c in pcols) for p in rel["providers"]]
    write_table(con, os.path.join(lake, "staging", "provider_info"), pcols, prow)
    fcols = [c for _, c in gen_inbox.FACILITY_COLS]
    write_table(con, os.path.join(wh, "facility"), fcols,
                [tuple(clean(p[c]) for c in fcols) for p in rel["providers"]])
    qcols = [c for _, c in gen_inbox.QUALITY_COLS] + ["qm_key"]
    write_table(con, os.path.join(wh, "qualitymsr_mds"), qcols,
                [tuple(clean(r[c]) for c in qcols[:-1])
                 + (f"{r['facility_number']}|{r['measure_code']}",)
                 for r in rel["quality"]])
    counts = checks.expected_counts(m, "day2")
    for dim in ("surveys", "penalties"):
        write_table(con, os.path.join(wh, dim), ["facility_number"],
                    [("x",)] * counts[dim])
    day1 = {p["facility_number"]: p for p in m["day1"]["providers"]}
    for dim, spec in (("rating", gen_inbox.RATING_COLS),
                      ("staffing", gen_inbox.STAFFING_COLS)):
        cols = ["facility_number"] + [c for _, c in spec]
        closed = checks._changed_keys(m, cols[1:])
        rows = [tuple(clean(p[c]) for c in cols)
                + ("2025-04-01" if p["facility_number"] in day1 else
                   "2025-04-02", "9999-12-31", True)
                for p in rel["providers"]]
        rows += [tuple(clean(day1[k][c]) for c in cols)
                 + ("2025-04-01", "2025-04-02", False) for k in sorted(closed)]
        path = os.path.join(wh, dim)
        os.makedirs(path)
        con.sql(f"""CREATE OR REPLACE TABLE t ({', '.join(f'{c} VARCHAR' for c in cols)},
                    effective_from DATE, effective_to DATE, is_current BOOLEAN)""")
        con.executemany(
            f"INSERT INTO t VALUES ({', '.join('?' for _ in range(len(cols) + 3))})",
            rows)
        con.sql(f"COPY t TO '{path}/part-0.parquet' (FORMAT parquet)")
    con.close()


class PipelineCheckTest(unittest.TestCase):
    def setUp(self):
        self.m = gen_inbox.model(9, SCALE)
        self.tmp = tempfile.TemporaryDirectory()
        fake_outputs(self.m, self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def failed(self):
        res = checks.check_pipeline(self.tmp.name, self.m, True,
                                    gen_inbox.DAY2)
        return {k: v for k, v in res.items() if v}

    def test_correct_outputs_pass(self):
        self.assertEqual(self.failed(), {})

    def test_one_mutated_dim_row_is_caught(self):
        path = os.path.join(self.tmp.name, "warehouse", "facility")
        con = duckdb.connect()
        con.sql(f"""CREATE TABLE f AS SELECT * FROM '{path}/part-0.parquet'""")
        victim = self.m["day2"]["providers"][3]["facility_number"]
        con.sql(f"""UPDATE f SET ownership_type = 'Mutated'
                    WHERE facility_number = '{victim}'""")
        con.sql(f"COPY f TO '{path}/part-0.parquet' (FORMAT parquet)")
        con.close()
        failed = self.failed()
        self.assertEqual(list(failed), ["scd1_values"], failed)
        self.assertEqual(len(failed["scd1_values"]), 1)
        self.assertIn(victim, failed["scd1_values"][0])

    def test_untrimmed_staging_cell_is_caught(self):
        path = os.path.join(self.tmp.name, "lake", "staging", "provider_info")
        con = duckdb.connect()
        con.sql(f"""CREATE TABLE f AS SELECT * FROM '{path}/part-0.parquet'""")
        con.sql("UPDATE f SET state = state || ' ' WHERE rowid = 0")
        con.sql(f"COPY f TO '{path}/part-0.parquet' (FORMAT parquet)")
        con.close()
        self.assertEqual(list(self.failed()), ["trimmed"])


class QueryCheckTest(unittest.TestCase):
    SQL = """SELECT l_returnflag, l_linestatus, count(*) AS n,
                    round(sum(l_extendedprice), 2) AS revenue
             FROM lineitem GROUP BY 1, 2"""

    def test_one_wrong_query_row_is_caught(self):
        fixture = os.path.join(os.path.dirname(checks.__file__), "fixture",
                               "sf0.01")
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{fixture}/lineitem.parquet'")
        with tempfile.TemporaryDirectory() as out:
            con.sql(f"COPY ({self.SQL}) TO '{out}/part-0.parquet' "
                    "(FORMAT parquet)")
            self.assertEqual(checks.compare_query(con, out, self.SQL), "")
            con.sql(f"""COPY (SELECT l_returnflag, l_linestatus,
                                     n + (l_returnflag = 'R')::BIGINT AS n,
                                     revenue FROM ({self.SQL}))
                        TO '{out}/part-0.parquet' (FORMAT parquet)""")
            self.assertIn("column n",
                          checks.compare_query(con, out, self.SQL))
        con.close()


if __name__ == "__main__":
    unittest.main()
