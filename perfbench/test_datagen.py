"""The generator plants every pattern the checks and the ETL rely on.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import os
import tempfile
import unittest

import datagen


class HealthCsvTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        cls.path = os.path.join(cls.dir.name, "h.csv")
        cls.acct = datagen.health_csv(cls.path, 3000, seed=5)
        cls.raw = open(cls.path, "rb").read()
        with open(cls.path, newline="", encoding="latin-1") as f:
            cls.rows = list(csv.DictReader(f))

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def cells(self, col):
        return [r[col] for r in self.rows]

    def test_header_and_size(self):
        self.assertEqual(list(self.rows[0].keys()), datagen.HEADER)
        self.assertEqual(len(self.rows), 3000)
        self.assertEqual(self.acct["lines"], 3000)

    def test_latin1_only(self):
        self.assertIn("It@l¥", self.cells("Country"))
        with self.assertRaises(UnicodeDecodeError):
            self.raw.decode("utf-8")

    def test_quote_prefixed_and_comma_decimals(self):
        values = [v for r in self.rows for v in r.values()]
        self.assertTrue(any(v.startswith("'") and v[1:].replace(".", "").isdigit() for v in values))
        self.assertIn("'370", self.cells("Ages 36-60 (%)"))
        self.assertTrue(any("," in v for v in self.cells("Doctors per 1000")))

    def test_all_null_tokens(self):
        values = {v for r in self.rows for v in r.values()}
        for tok in datagen.NULL_TOKENS:
            self.assertIn(tok, values, tok)

    def test_dirty_categoricals(self):
        countries, diseases = set(self.cells("Country")), set(self.cells("Disease Name"))
        for v in ["T?u?r?k?e?y?", "G%rmany", "Can@da", "Mex!co", "?r?zil", ""]:
            self.assertIn(v, countries)
        for v in [" Ebola ", "Tub?rculosis", "HIV/A!DS", "Influen&za", ""]:
            self.assertIn(v, diseases)
        avail = set(self.cells("Availability of Vaccines/Treatment"))
        for v in ["high", "Low ", "~none~", "NONE", "M?dium"]:
            self.assertIn(v, avail)
        self.assertIn("", self.cells("Treatment type"))

    def test_years(self):
        years = self.cells("Year")
        self.assertTrue(any(y.endswith(".00") for y in years))
        self.assertIn("", years)
        bad = [y for y in years if y and not 1900 <= float(y) <= 2100]
        self.assertEqual(len(bad), self.acct["bad_years"])

    def test_duplicates(self):
        lines = self.raw.decode("latin-1").splitlines()[1:]
        self.assertEqual(len(lines) - len(set(lines)), self.acct["duplicates"])
        self.assertEqual(self.acct["expected_clean"],
                         len(set(lines)) - self.acct["bad_years"])

    def test_seeded(self):
        other = os.path.join(self.dir.name, "again.csv")
        datagen.health_csv(other, 3000, seed=5)
        self.assertEqual(open(other, "rb").read(), self.raw)


if __name__ == "__main__":
    unittest.main()
