"""The benchmark's own tests: its output checks must catch corrupted
results, and its input generator must be deterministic.

Run from the repository root:  python3 -m unittest perfbench/test_checks.py
(needs only numpy, pyarrow and duckdb; no JVM).
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402


class CatalogueCheckTest(unittest.TestCase):
    ITEMS = [("CAT_000000_e1", "CAT_000000", "Bala (Ch.)", "Q7", "Bala Charles", False),
             ("CAT_000000_e2", "CAT_000000", "Mirne (V.)", "Q9", "Mirou Victor", True),
             ("CAT_000001_e1", "CAT_000001", "Toda (Ed.)", "Q3", "Toda Edouard", False)]

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        self.out = os.path.join(self.tmp, "out")
        os.makedirs(self.data)
        items = [{"xml_id": x, "file": f, "name": n, "entity_id": q, "entity_name": e,
                  "perturbed": p} for x, f, n, q, e, p in self.ITEMS]
        with open(os.path.join(self.data, "truth.json"), "w") as fh:
            json.dump({"n_items": 3, "n_files": 2, "items": items}, fh)
        self.rows = [[x, n, q if not p else "", e if not p else ""]
                     for x, _, n, q, e, p in self.ITEMS]
        self.ids = ["Q7", "Q3"]
        self.docs = {
            "CAT_000000": '<TEI><teiHeader><title>CAT_000000</title><encodingDesc><listPrefixDef>'
                          '</listPrefixDef></encodingDesc></teiHeader>\n<name ref="wd:Q7">Bala (Ch.)'
                          '</name>\n<name>Mirne (V.)</name></TEI>',
            "CAT_000001": '<TEI><teiHeader><title>CAT_000001</title><encodingDesc><listPrefixDef>'
                          '</listPrefixDef></encodingDesc></teiHeader>\n<name ref="wd:Q3">Toda (Ed.)'
                          '</name></TEI>'}
        self.write()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self):
        pipe = os.path.join(self.out, "pipeline")
        shutil.rmtree(pipe, ignore_errors=True)
        for d in ("nametable", "enrichments", "tei"):
            os.makedirs(os.path.join(pipe, d))
        with open(os.path.join(pipe, "nametable", "part-0.csv"), "w") as fh:
            fh.write("xml_id\tname\twikidata_id\tmatched_name\n")
            fh.writelines("\t".join(r) + "\n" for r in self.rows)
        with open(os.path.join(pipe, "enrichments", "part-0.json"), "w") as fh:
            fh.writelines(json.dumps({"id": i, "attributes": {}}) + "\n" for i in self.ids)
        with open(os.path.join(pipe, "tei", "part-0.txt"), "w") as fh:
            fh.write("\n".join(self.docs.values()) + "\n")

    def failures(self):
        self.write()
        return checks.check_catalogue(self.data, self.out)[1]

    def test_clean_output_passes(self):
        self.assertEqual(self.failures(), [])

    def test_wrong_entity_is_caught(self):
        self.rows[0][2] = "Q9"
        self.assertTrue(any("planted entity" in f for f in self.failures()))

    def test_missing_row_is_caught(self):
        del self.rows[1]
        self.assertTrue(any("nametable has 2 rows" in f for f in self.failures()))

    def test_missing_header_is_caught(self):
        self.docs["CAT_000001"] = self.docs["CAT_000001"].replace("<listPrefixDef></listPrefixDef>", "")
        self.assertTrue(any("listPrefixDef" in f for f in self.failures()))

    def test_missing_ref_is_caught(self):
        self.docs["CAT_000000"] = self.docs["CAT_000000"].replace(' ref="wd:Q7"', "")
        self.assertTrue(any("lack their ref" in f for f in self.failures()))

    def test_missing_file_is_caught(self):
        del self.docs["CAT_000001"]
        self.assertTrue(any("rewritten files" in f for f in self.failures()))

    def test_missing_enrichment_is_caught(self):
        self.ids = ["Q7"]
        self.assertTrue(any("enrichment document" in f for f in self.failures()))


class QueryCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        self.out = os.path.join(self.tmp, "out")
        os.makedirs(self.data)
        gen.write_tables(self.data, 3, 0.0002)
        os.makedirs(os.path.join(self.out, "results", "regions"))
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as fh:
            json.dump({"regions": "SELECT r_regionkey, r_name FROM region"}, fh)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def run_check(self, names):
        pq.write_table(pa.table({"r_name": names, "r_regionkey": pa.array(range(5), pa.int32())}),
                       os.path.join(self.out, "results", "regions", "part-0.parquet"))
        return checks.check_queries(self.data, self.out, os.path.join(self.tmp, "cache"),
                                    self.tmp, 1)[1]

    def test_correct_result_passes_and_corruption_is_caught(self):
        self.assertEqual(self.run_check(gen.REGIONS), [])
        # second compare reads the cached oracle digest; it must still catch
        bad = list(gen.REGIONS)
        bad[2] = "ATLANTIS"
        failures = self.run_check(bad)
        self.assertEqual(len(failures), 1)
        self.assertIn("rows differ", failures[0])

    def test_missing_result_is_caught(self):
        os.rmdir(os.path.join(self.out, "results", "regions"))
        failures = checks.check_queries(self.data, self.out, os.path.join(self.tmp, "cache"),
                                        self.tmp, 1)[1]
        self.assertIn("no result written", failures[0])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        spec = {"kind": "catalogue", "items": 40, "files": 2, "entities": 80, "perturbed_share": 0.2}
        tmp = tempfile.mkdtemp()
        try:
            a, _ = gen.ensure(os.path.join(tmp, "a"), "w", 5, spec)
            b, _ = gen.ensure(os.path.join(tmp, "b"), "w", 5, spec)
            c, _ = gen.ensure(os.path.join(tmp, "c"), "w", 6, spec)
            for t in ("entities.parquet", "truth.json", os.path.join("catalogues", "CAT_000001.xml")):
                with open(os.path.join(a, t), "rb") as fa, open(os.path.join(b, t), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)
            with open(os.path.join(a, "truth.json"), "rb") as fa, \
                    open(os.path.join(c, "truth.json"), "rb") as fc:
                self.assertNotEqual(fa.read(), fc.read())
            ta = gen.base_tables(7, 0.0002)
            tb = gen.base_tables(7, 0.0002)
            self.assertTrue(all(ta[k].equals(tb[k]) for k in ta))
        finally:
            shutil.rmtree(tmp)

    def test_uncommitted_input_is_regenerated(self):
        spec = {"kind": "catalogue", "items": 10, "files": 1, "entities": 20, "perturbed_share": 0.0}
        tmp = tempfile.mkdtemp()
        try:
            d, made = gen.ensure(tmp, "w", 1, spec)
            self.assertTrue(made)
            self.assertFalse(gen.ensure(tmp, "w", 1, spec)[1])
            os.remove(os.path.join(d, "_SUCCESS"))  # as if killed before the commit
            self.assertTrue(gen.ensure(tmp, "w", 1, spec)[1])
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
