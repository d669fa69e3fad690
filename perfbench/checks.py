"""Output checks. Each returns a list of failure descriptions; every
failure counts once in the run's "failed"."""
import csv
import glob
import os
import re
import zipfile

CLEAN_COLUMNS = 35
PAGE_HEADINGS = ["<h1>Global Health Analytics</h1>", "<h2>Overview</h2>",
                 "<h2>Top-Level Health Insights</h2>", "<h2>Mortality Prediction</h2>"]
PREDICT_HEADINGS = ["<h1>Mortality Prediction</h1>", "Predicted mortality rate:"]


def registry(res, data):
    """Each query ran, and its row count equals DuckDB's count for the
    query's oracle SQL over the same tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        table = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    failures = []
    for op in res["ops"]:
        name = op["name"]
        if op["error"]:
            failures.append(f"{name}: {op['error']}")
            continue
        sql = res["oracle"].get(name)
        if sql is None:
            continue
        sql = sql.strip().rstrip(";")
        try:
            want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except Exception:  # statements a subquery cannot hold
            want = len(con.execute(sql).fetchall())
        if want != op["rows"]:
            failures.append(f"{name}: {op['rows']} rows, oracle has {want}")
    return failures


def pdf_escape(s):
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def sheet_name(title):
    return re.sub(r"[\[\]:*?/\\]", " ", title).strip()[:31]


def xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def cleaned_csv(path, expected_rows):
    """FIXTURES.md section 2: 35 columns, no empty cell, Record_ID dense
    1..N, N = generated rows minus the planted drops."""
    parts = glob.glob(os.path.join(path, "part-*.csv"))
    if len(parts) != 1:
        return [f"cleaned CSV: {len(parts)} part files, expected 1"]
    with open(parts[0], newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    header, body = rows[0], rows[1:]
    failures = []
    if len(header) != CLEAN_COLUMNS:
        failures.append(f"cleaned CSV: {len(header)} columns")
    if len(body) != expected_rows:
        failures.append(f"cleaned CSV: {len(body)} rows, expected {expected_rows}")
    empty = sum(1 for r in body for v in r if v == "")
    if empty or any(len(r) != len(header) for r in body):
        failures.append(f"cleaned CSV: {empty} empty cells or ragged rows")
    if "Record_ID" in header:
        k = header.index("Record_ID")
        ids = sorted(int(r[k]) for r in body)
        if ids != list(range(1, len(body) + 1)):
            failures.append("cleaned CSV: Record_ID is not dense 1..N")
    else:
        failures.append("cleaned CSV: no Record_ID column")
    return failures


def health(res, out, acct):
    failures = [f"{o['name']}: {o['error']}" for o in res["ops"] if o["error"]]
    failures += cleaned_csv(os.path.join(out, "cleaned_csv"), acct["expected_clean"])
    titles = [res["report_name"]] + res["sections"]
    if len(res["sections"]) < 7:
        failures.append(f"report: {len(res['sections'])} sections, expected 7")
    pdf = open(os.path.join(out, "report.pdf"), "rb").read()
    missing = [t for t in titles if pdf_escape(t).encode("latin-1") not in pdf]
    if not pdf.startswith(b"%PDF") or missing:
        failures.append(f"PDF: missing {missing}")
    with zipfile.ZipFile(os.path.join(out, "report.xlsx")) as z:
        book = z.read("xl/workbook.xml").decode()
    missing = [t for t in titles if f'name="{xml_escape(sheet_name(t))}"' not in book]
    if missing:
        failures.append(f"XLSX: no sheet for {missing}")
    return failures


def page(path, status, body):
    """None if the dashboard answered the request properly, else why not."""
    if status != 200:
        return f"HTTP {status}"
    if "<body>error:" in body:
        return "error page: " + body[:200]
    headings = PREDICT_HEADINGS if path.startswith("/predict") else PAGE_HEADINGS
    missing = [h for h in headings if h not in body]
    return f"missing {missing}" if missing else None


def dashboard(requests):
    return [f"{r['path']}: {r['error']}" for r in requests if r["error"]]
