"""Tests of the benchmark's own parts: the generator is deterministic, the
model follows the pipeline's merge rules, and every correctness check
fires on an injected fault.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

D = gen.DAY
JAN, FEB, JUN = (
    (dt.date(2023, m, 10) - gen.EPOCH.date()).days for m in (1, 2, 6))


def write_dw(path, model, month_of=gen.month_of):
    """A DW in the pipeline's layout (nfe_month partitions) holding `model`;
    `month_of` picks each key's partition."""
    keys = sorted(model.dw)
    v = [model.dw[k] for k in keys]
    t = pa.table({
        "chave_nfe": [gen.chave(k) for k in keys],
        "data_ultima_ocr": pa.array([x[0] * 10**6 for x in v], pa.timestamp("us", tz="UTC")),
        "data_nfe": pa.array([x[1] for x in v], pa.int32()).cast(pa.date32()),
        "data_insercao": pa.array([x[2] * 10**6 for x in v], pa.timestamp("us", tz="UTC")),
        "transportador": [gen.CARRIERS[x[3]] for x in v],
        "nfe_month": [month_of(x[1]) for x in v],
    })
    pq.write_to_dataset(t, path, partition_cols=["nfe_month"])


def write_rows(path, n):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"chave_nfe": [gen.chave(i) for i in range(n)]}),
                   os.path.join(path, "part-0.parquet"))


def drop(*rows, name="f.csv"):
    return [{"name": name, "good": True, "rows": list(rows), "dialect": gen.REFERENCE}]


class GeneratorTest(unittest.TestCase):
    def generate(self, seed, workload, d):
        return gen.generate_drops(seed, workload, d, timed=2)

    def test_same_seed_same_drops_and_model(self):
        for w in gen.SHAPES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                sa, da = self.generate(5, w, a)
                sb, db = self.generate(5, w, b)
                files = sorted(str(p.relative_to(a)) for p in Path(a).rglob("*.csv"))
                self.assertEqual(files, sorted(str(p.relative_to(b))
                                               for p in Path(b).rglob("*.csv")))
                for f in files:
                    self.assertEqual(Path(a, f).read_bytes(), Path(b, f).read_bytes(), f)
                ma, mb = gen.model_after(sa, da, len(da)), gen.model_after(sb, db, len(db))
                self.assertEqual((ma.dw, ma.hist_rows, ma.quarantined),
                                 (mb.dw, mb.hist_rows, mb.quarantined))

    def test_other_seed_other_drops(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.generate(5, "query_walk", a)
            self.generate(6, "query_walk", b)
            name = "cycle_000/pedidos_c000_000.csv"
            self.assertNotEqual(Path(a, name).read_bytes(), Path(b, name).read_bytes())

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate_tables(9, a, scale=0.05)
            gen.generate_tables(9, b, scale=0.05)
            for t in checks.TABLES:
                self.assertTrue(pq.read_table(f"{a}/{t}.parquet").equals(
                    pq.read_table(f"{b}/{t}.parquet")), t)

    def test_query_walk_drops_cover_the_dialects(self):
        with tempfile.TemporaryDirectory() as a:
            _, drops = self.generate(2, "query_walk", a)
            ds = [f["dialect"] for d in drops for f in d]
            self.assertEqual({d["sep"] for d in ds}, {";", ",", "|", "\t"})
            self.assertEqual({d["enc"] for d in ds}, {"utf-8", "utf-8-sig", "cp1252"})
            for d in drops:
                self.assertTrue(any(not f["good"] for f in d))
                self.assertTrue(any(f["good"] and not f["rows"] for f in d))

    def test_cron_drops_are_recent_heavy(self):
        g = gen.DropGenerator(1, "cron_large_dw")
        g.shape = dict(g.shape, backfill_keys=20_000)
        m = gen.Model()
        m.apply(g.backfill())
        d = g.drop()
        rows = [r for f in d for r in f["rows"]]
        new = [r for r in rows if r[0] not in m.dw]
        self.assertTrue(all(gen.NFE_LAST - r[2] < 60 for r in new))
        resent = [m.dw[r[0]][1] for r in rows if r[0] in m.dw]
        recent = sum(gen._months_back(n) < 3 for n in resent)
        self.assertGreater(recent / len(resent), 0.8)
        self.assertLess(len(gen.drop_months(d, m)), gen.NFE_MONTHS)


class ModelTest(unittest.TestCase):
    def test_newer_event_wins_over_older_and_null(self):
        m = gen.Model()
        m.apply(drop((1, 100 * D, JAN, 50 * D, 0), (2, 100 * D, JAN, 50 * D, 0),
                     (3, 100 * D, JAN, 50 * D, 0)))
        m.apply(drop((1, 150 * D, JAN, 60 * D, 0), (2, 90 * D, JAN, 60 * D, 0),
                     (3, None, JAN, 60 * D, 0), name="g.csv"))
        self.assertEqual([m.dw[k][0] for k in (1, 2, 3)], [150 * D, 100 * D, 100 * D])
        self.assertEqual(m.months()[gen.month_of(JAN)], (3, 150 * D))
        self.assertEqual(m.hist_rows, 6)

    def test_within_drop_dedup_takes_newest_nulls_last(self):
        m = gen.Model()
        m.apply(drop((1, None, JAN, 9 * D, 1), (1, 5 * D, JAN, 1 * D, 2),
                     (1, 5 * D, JAN, 2 * D, 3)))
        self.assertEqual(m.dw[1], [5 * D, JAN, 2 * D, 3])

    def test_greatest_insercao(self):
        m = gen.Model()
        m.apply(drop((1, 100 * D, JAN, 50 * D, 0)))
        m.apply(drop((1, 90 * D, JAN, 70 * D, 0), name="g.csv"))
        m.apply(drop((1, 120 * D, JAN, 60 * D, 0), name="h.csv"))
        self.assertEqual(m.dw[1][2], 70 * D)  # an older event still raises it
        self.assertEqual(m.dw[1][0], 120 * D)

    def test_coalesce_keeps_old_on_empty(self):
        m = gen.Model()
        m.apply(drop((1, 100 * D, JAN, 50 * D, 2), (2, 100 * D, JAN, 50 * D, 2)))
        m.apply(drop((1, 110 * D, JAN, 50 * D, None), (2, 90 * D, JAN, 50 * D, 3),
                     name="g.csv"))
        self.assertEqual((m.dw[1][3], m.dw[2][3]), (2, 3))  # even from an older event

    def test_keep_old_data_nfe_across_a_month_change(self):
        m = gen.Model()
        m.apply(drop((1, 100 * D, JAN, 50 * D, 0)))
        m.apply(drop((1, 130 * D, JUN, 60 * D, 0), name="g.csv"))
        self.assertEqual(m.dw[1][1], JAN)
        self.assertEqual(set(m.months()), {gen.month_of(JAN)})
        self.assertEqual(m.months()[gen.month_of(JAN)], (1, 130 * D))

    def test_quarantine(self):
        m = gen.Model()
        m.apply([{"name": "bad.csv", "good": False, "rows": []},
                 {"name": "empty.csv", "good": True, "rows": []}])
        self.assertEqual(m.quarantined, {"bad.csv", "empty.csv"})
        self.assertEqual((m.dw, m.hist_rows), ({}, 0))


class ChecksFireTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.m = gen.Model()
        self.m.apply([{"name": "a.csv", "good": True, "dialect": gen.REFERENCE, "rows": [
            (k, 1_700_000_000 + k, JAN + k * 20, 1_699_000_000 + k, k % 4)
            for k in range(1, 40)]},
            {"name": "bad.csv", "good": False, "rows": []}])

    def tearDown(self):
        shutil.rmtree(self.dir)

    def dw_of(self, mutate=None, month_of=gen.month_of):
        m = gen.Model()
        m.dw = {k: list(v) for k, v in self.m.dw.items()}
        if mutate:
            mutate(m.dw)
        path = f"{self.dir}/dw"
        shutil.rmtree(path, ignore_errors=True)
        write_dw(path, m, month_of)
        return checks.check_dw(path, self.m)

    def test_dw_matching_the_model_passes(self):
        self.assertEqual(self.dw_of(), [])

    def test_rolled_back_event_fails(self):
        errs = self.dw_of(lambda dw: dw[7].__setitem__(0, dw[7][0] - 3600))
        self.assertEqual(len(errs), 1)
        self.assertIn("data_ultima_ocr: 1 keys differ", errs[0])

    def test_lost_greatest_or_coalesce_fails(self):
        self.assertIn("data_insercao", self.dw_of(
            lambda dw: dw[3].__setitem__(2, dw[3][2] - 1))[0])
        self.assertIn("transportador", self.dw_of(
            lambda dw: dw[3].__setitem__(3, (dw[3][3] + 1) % 4))[0])

    def test_missing_or_extra_key_fails(self):
        self.assertIn("missing", self.dw_of(lambda dw: dw.pop(3))[0])
        self.assertIn("does not have", self.dw_of(
            lambda dw: dw.__setitem__(99, list(dw[1])))[0])

    def test_key_in_the_wrong_partition_fails(self):
        wrong = gen.chave(5)
        nfe5 = self.m.dw[5][1]
        errs = self.dw_of(month_of=lambda d: "2001-01" if d == nfe5 else gen.month_of(d))
        self.assertEqual(len(errs), 1)
        self.assertIn(f"wrong nfe_month partition; first {wrong}", errs[0])

    def test_dropped_hist_row_fails(self):
        write_rows(f"{self.dir}/hist", self.m.hist_rows)
        self.assertEqual(checks.check_hist(f"{self.dir}/hist", self.m), [])
        shutil.rmtree(f"{self.dir}/hist")
        write_rows(f"{self.dir}/hist", self.m.hist_rows - 1)
        self.assertTrue(checks.check_hist(f"{self.dir}/hist", self.m))

    def test_non_empty_staging_fails(self):
        write_rows(f"{self.dir}/staging", 0)
        self.assertEqual(checks.check_staging_empty(f"{self.dir}/staging"), [])
        write_rows(f"{self.dir}/staging", 2)
        self.assertTrue(checks.check_staging_empty(f"{self.dir}/staging"))

    def test_misrouted_file_fails(self):
        for sub, names in (("erros", ["bad.csv"]), ("lidos", ["a.csv"])):
            os.makedirs(f"{self.dir}/{sub}")
            for n in names:
                Path(self.dir, sub, n).write_text("x")
        self.assertEqual(checks.check_routing(self.dir, self.m), [])
        os.rename(f"{self.dir}/lidos/a.csv", f"{self.dir}/erros/a.csv")
        self.assertEqual(len(checks.check_routing(self.dir, self.m)), 2)

    def test_cycle_report_mismatches_fail(self):
        d = [{"name": "a.csv", "good": True, "rows": [(1,)] * 3},
             {"name": "e.csv", "good": True, "rows": []},
             {"name": "b.csv", "good": False, "rows": []}]
        rec = {"ok": True, "round": 0, "downloaded": ["a.csv", "b.csv", "e.csv"],
               "loaded": ["a.csv"], "quarantined": ["b.csv", "e.csv"],
               "load_rows": 3, "archived": 3, "lock_busy": False}
        self.assertEqual(checks.check_cycle(rec, d), [])
        self.assertTrue(checks.check_cycle(dict(rec, loaded=["a.csv", "e.csv"],
                                                quarantined=["b.csv"]), d))
        self.assertTrue(checks.check_cycle(dict(rec, archived=2), d))
        self.assertTrue(checks.check_cycle(dict(rec, lock_busy=True), d))

    def test_read_mismatches_fail(self):
        rec = {"ok": True, "kind": "key", "arg": "k", "round": 0,
               "groups": [["", 1, 100]]}
        self.assertEqual(checks.check_read(rec, {"": (1, 100)}), [])
        self.assertTrue(checks.check_read(rec, {"": (1, 101)}))
        self.assertTrue(checks.check_read(rec, {"": (2, 100)}))

    def test_query_row_count_off_by_one_fails(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate_tables(1, t, scale=0.01)
            sql = {"q": "SELECT n_name FROM nation WHERE n_regionkey = 1", "noref": None}
            oracle = checks.oracle_counts(t, sql, t)
        self.assertEqual(oracle, {"q": 5})
        q = {"ok": True, "name": "q", "rows": 5}
        self.assertEqual(checks.check_query(q, oracle["q"]), [])
        self.assertTrue(checks.check_query(dict(q, rows=6), oracle["q"]))
        self.assertTrue(checks.check_query(dict(q, rows=4), oracle["q"]))
        self.assertTrue(checks.check_query(dict(q, ok=False, error="boom"), 5))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_reports(self):
        b = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
