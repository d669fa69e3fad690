"""Seeded input generator for the benchmark's health workload.

``health_csv`` writes a dirty latin-1 CSV in the reference's 30-column
layout (FIXTURES.md section 1), planting every dirtiness pattern the ETL
repairs, and returns the row accounting the output checks need. It is a
pure function of (rows, seed).
"""
import csv

import numpy as np

# ------------------------------------------------------------------ health

HEADER = [
    "Row_num", "Country", "Year", "Disease Name", "Country_pop",
    "Incidence Rate mn (%)", "Prevalence rate (%)",
    "Mortality Rate per 100 people (%)", "Population affected",
    "Pop_affected(Male)", "Pop_affected(Female)", "Ages 0-18 (%)",
    "Ages 19-35 (%)", "Ages 36-60 (%)", "Ages 61+ (%)", "Pop_affected_U (%)",
    "Pop_affected_R (%)", "Healthcare Access (%)", "Doctors per 1000",
    "Hospital Beds per 1000", "Treatment type", "Recovery Rate (%)", "DALYs",
    "Improvement in 5 Years (%)", "Average Annual Treatment Cost (USD)",
    "Availability of Vaccines/Treatment", "Composite Health Index (CHI)",
    "Per Capita Income (USD)", "Education Index", "Urbanization Rate (%)"]

# clean name -> how the raw file spells it (the misspellings are the
# reference file's own; `It@l¥` only exists in latin-1)
COUNTRIES = {
    "Nigeria": "Nigeria", "Brazil": "?r?zil", "China": "China",
    "Mexico": "Mex!co", "Russia": "Russia", "Canada": "Can@da",
    "India": "Ind!a", "Japan": "Japan", "Argentina": "Argentina",
    "Indonesia": "Indonesia", "USA": "USA", "France": "France",
    "Saudi Arabia": "Saudi Arabia", "Australia": "Australia",
    "Germany": "G%rmany", "Italy": "It@l¥", "South Africa": "South Africa",
    "Turkey": "T?u?r?k?e?y?", "United Kingdom": "United Kingdom",
    "South Korea": "South Korea"}
DISEASES = {
    "Cholera": "Cholera", "Dengue": "Dengue", "Leprosy": "Leprosy",
    "COVID-19": "COVID-19", "Alzheimer's Disease": "Alzheimer's Disease",
    "Diabetes": "Diabetes", "Influenza": "Influen&za", "Malaria": "Malaria",
    "Zika": "Zika", "HIV/AIDS": "HIV/A!DS", "Hepatitis": "Hepatitis",
    "Cancer": "Cancer", "Ebola": " Ebola ", "Hypertension": "Hypertension",
    "Polio": "Polio", "Asthma": "Asthma", "Measles": "Measles",
    "Parkinson's Disease": "Parkinson's Disease", "Rabies": "Rabies",
    "Tuberculosis": "Tub?rculosis"}
NULL_TOKENS = ["", "NaN", "NA", "NULL", "None", "nan", "N/A", "n/a", "~none~", "?", "-"]
TREATMENTS = ["Medication", "Therapy", "Vaccination", "Surgery"]
AVAILABILITY = ["High", "Medium", "Low", "high", "medium", "low", "Low ",
                "~none~", "NONE", "M?dium"]
BAD_YEARS = ["1850", "2150.00", "3013", "1899.00"]
# numeric column -> (low, high, decimals, share of cells left null)
NUMERIC = {
    "Country_pop": (1.6e7, 6.1e8, 0, 0.05),
    "Incidence Rate mn (%)": (0, 25, 2, 0.10),
    "Prevalence rate (%)": (0, 40, 2, 0.05),
    "Mortality Rate per 100 people (%)": (0, 1.2, 3, 0.15),
    "Population affected": (7, 3.3e8, 0, 0.05),
    "Pop_affected(Male)": (5, 1.9e8, 0, 0.05),
    "Pop_affected(Female)": (2, 1.5e8, 0, 0.05),
    "Ages 0-18 (%)": (1, 56, 0, 0.10), "Ages 19-35 (%)": (1, 37, 0, 0.10),
    "Ages 36-60 (%)": (1, 60, 0, 0.10), "Ages 61+ (%)": (1, 60, 0, 0.10),
    "Pop_affected_U (%)": (27, 92, 0, 0.05), "Pop_affected_R (%)": (8, 73, 0, 0.05),
    "Healthcare Access (%)": (20, 100, 1, 0.0),
    "Doctors per 1000": (0.1, 5.1, 2, 0.0),
    "Hospital Beds per 1000": (0.2, 12.2, 2, 0.0),
    "Recovery Rate (%)": (50, 99, 0, 0.0), "DALYs": (0, 125, 1, 0.05),
    "Improvement in 5 Years (%)": (-49, 89, 2, 0.20),
    "Average Annual Treatment Cost (USD)": (5, 12700, 0, 0.02),
    "Composite Health Index (CHI)": (7.4, 95.2, 1, 0.0),
    "Per Capita Income (USD)": (450, 80700, 2, 0.0),
    "Education Index": (0.37, 0.96, 2, 0.05),
    "Urbanization Rate (%)": (27, 92, 0, 0.0)}
QUOTED = {"Prevalence rate (%)", "Ages 0-18 (%)", "Ages 19-35 (%)", "Ages 36-60 (%)",
          "Ages 61+ (%)", "Average Annual Treatment Cost (USD)", "Per Capita Income (USD)"}
COMMA = {"Doctors per 1000", "Hospital Beds per 1000", "Education Index"}


def health_csv(path, rows, seed):
    """Write a dirty health CSV of ``rows`` data lines (planted duplicate
    lines included) and return its row accounting:
    ``{"lines", "duplicates", "bad_years", "expected_clean"}``."""
    rng = np.random.default_rng(seed)
    n_dup = max(rows // 1500, 1)
    n_bad = max(rows // 2500, 1)
    n = rows - n_dup
    combo = np.arange(n) % 10_000  # country x disease x year, as in the reference
    year = 2000 + (combo // 400) % 25
    cols = {
        "Row_num": np.arange(1, n + 1).astype(str),
        "Country": np.array(list(COUNTRIES.values()))[combo % 20],
        "Year": np.where(rng.random(n) < 0.7, np.char.add(year.astype(str), ".00"),
                         year.astype(str)),
        "Disease Name": np.array(list(DISEASES.values()))[(combo // 20) % 20]}
    tokens = np.array(NULL_TOKENS)
    for c, (lo, hi, dec, nulls) in NUMERIC.items():
        v = np.round(rng.uniform(lo, hi, n), dec)
        s = v.astype(np.int64).astype(str) if dec == 0 else np.char.mod(f"%.{dec}f", v)
        if c in QUOTED:
            s = np.where(rng.random(n) < 0.2, np.char.add("'", s), s)
        elif c in COMMA:
            s = np.where(rng.random(n) < 0.1, np.char.replace(s, ".", ","), s)
        cols[c] = np.where(rng.random(n) < nulls, rng.choice(tokens, n), s).astype(object)
    cols["Treatment type"] = np.where(rng.random(n) < 0.05, "", rng.choice(TREATMENTS, n))
    cols["Availability of Vaccines/Treatment"] = np.where(
        rng.random(n) < 0.05, rng.choice(tokens, n), rng.choice(AVAILABILITY, n))
    cols = {c: a.astype(object) for c, a in cols.items()}
    # deterministic plants, so every pattern occurs at any size
    cols["Country"][0] = ""
    cols["Disease Name"][1] = ""
    cols["Year"][2] = ""
    cols["Ages 36-60 (%)"][3] = "'370"
    cols["Education Index"][5:5 + len(NULL_TOKENS)] = NULL_TOKENS
    cols["Availability of Vaccines/Treatment"][20:20 + len(AVAILABILITY)] = AVAILABILITY
    bad = rng.choice(np.arange(40, n), n_bad, replace=False)
    cols["Year"][bad] = rng.choice(BAD_YEARS, n_bad)
    lines = list(zip(*(cols[c] for c in HEADER)))
    # exact duplicate lines; a copy of a bad-year line is dropped with it
    for row in [lines[i] for i in rng.choice(n, n_dup, replace=False)]:
        lines.insert(int(rng.integers(0, len(lines) + 1)), row)
    with open(path, "w", newline="", encoding="latin-1") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(lines)
    return {"lines": len(lines), "duplicates": n_dup, "bad_years": n_bad,
            "expected_clean": n - n_bad}
