"""Seeded synthetic raw loans set (the 23-column ``LOANS_RAW_SCHEMA``).

Domains and frequencies follow FIXTURES.md §1: the ``"Missing"`` string
sentinel for absent categoricals, DEBIT_CARD = 1 ⇒ CURRENT_ACCOUNT = 1, age
rising with married/widow status, income rising with education, and a
FINALIZED_LOAN rate that rises with LENGTH_RELATIONSHIP_WITH_CLIENT. The
label also rises with the salary / current account / debit card flags and
income, and its rate is ≈22% rather than the fixture's 16.4%: with the
signal in one column only, the GaussianNB head predicted almost no positives
on some seeds (hard ROC-AUC ≈ 0.52).

The first rows of every frame cycle through each categorical domain, so any
frame of at least ``MIN_ROWS`` rows holds every category and the fitted
feature pipeline always emits the full FIXTURES.md §3 column set.
"""

from __future__ import annotations

import csv

import numpy as np

PRODUCT = {"C": 45, "B": 23, "F": 22, "E": 10, "A": 0.3, "D": 0.1}
AREA = {"County capital": 50, "Rural area": 28, "Urban area": 22, "Missing": 0.2}
RESIDENTIAL_PLACE = {
    "Owner without mortgage": 56, "Living with family": 36, "Owner with mortgage": 6,
    "Other": 1.6, "Rental": 0.2,
}
EDUCATION = {
    "University": 36, "Highschool": 23, "Post secondary school": 11, "Vocational school": 8,
    "Post-graduate": 7, "Other": 5, "Missing": 4.6, "College": 4, "Middle school": 1.3,
    "Primary school": 0.2,
}
MARITAL_STATUS = {"married": 54, "single": 34, "divorced": 7, "widow": 5}
ECONOMIC_SECTOR = {
    "Missing": 26.6, "Manufacturing": 20, "Wholesale and retail trade": 9,
    "Public administration and defence": 8, "Other": 6, "Transportation and storage": 5,
    "Human health and social work activities": 4, "Information and communication": 3,
    "Education": 3, "Professional, scientific and technical activities": 3,
    "Construction": 2, "Water supply": 2, "Financial and insurance activities": 2,
    "Mining and quarrying": 1.4, "Agriculture, hunting and forestry": 1.3,
    "Accommodation and food service activities": 1, "Electricity and gas": 1,
    "Real estate activities": 0.5,
}
EMPLOYEE_NO = {
    "Missing": 22, "> 1.000": 21, "between 501-1.000": 12, "between 101-250": 11,
    "between 251-500": 11, "between 21-50": 9, "between 51-100": 7, "between 0-10": 5,
    "between 11-20": 2,
}
CATEGORICALS = {
    "PRODUCT": PRODUCT, "AREA": AREA, "RESIDENTIAL_PLACE": RESIDENTIAL_PLACE,
    "EDUCATION": EDUCATION, "MARITAL_STATUS": MARITAL_STATUS,
    "ECONOMIC_SECTOR": ECONOMIC_SECTOR, "EMPLOYEE_NO": EMPLOYEE_NO,
}
MIN_ROWS = max(len(d) for d in CATEGORICALS.values())

# mean age per marital status (older for married / widowed) and an income
# multiplier per education level (higher with more schooling)
AGE_MEAN = {"married": 46.0, "single": 35.0, "divorced": 47.0, "widow": 60.0}
EDU_INCOME = {
    "Primary school": 0.6, "Middle school": 0.7, "Highschool": 0.85, "Other": 0.9,
    "Missing": 0.9, "Vocational school": 0.95, "Post secondary school": 1.0,
    "College": 1.1, "University": 1.25, "Post-graduate": 1.5,
}

COLUMNS = [
    "PRODUCT", "AGE", "AREA", "RESIDENTIAL_PLACE", "EDUCATION", "MARITAL_STATUS",
    "HOUSEHOLD_MEMBERS", "NO_OF_DEPENDENTS", "INCOME", "WORK_SENIORITY", "BUSINESS AGE",
    "ECONOMIC_SECTOR", "EMPLOYEE_NO", "LENGTH_RELATIONSHIP_WITH_CLIENT", "DEBIT_CARD",
    "CURRENT_ACCOUNT", "SAVING_ACCOUNT", "SALARY_ACCOUNT", "FOREIGN_ACCOUNT",
    "FINALIZED_LOAN", "DEPOSIT", "PENSION_FUNDS", "DEFAULT_FLAG",
]


def _categorical(rng: np.random.Generator, domain: dict[str, float], n: int) -> np.ndarray:
    values = np.array(list(domain), dtype=object)
    p = np.array(list(domain.values()), dtype=float)
    out = values[rng.choice(len(values), size=n, p=p / p.sum())]
    out[: len(values)] = values[rng.permutation(len(values))][: n]
    return out


def _skewed_int(rng: np.random.Generator, median: float, sigma: float, lo: int, hi: int, n: int) -> np.ndarray:
    return np.clip(np.rint(rng.lognormal(np.log(median), sigma, n)), lo, hi).astype(np.int64)


def make_loans(seed: int, n: int) -> dict[str, np.ndarray]:
    """``n`` raw loan rows (``n >= MIN_ROWS``) as column arrays, in
    ``LOANS_RAW_SCHEMA`` order."""
    if n < MIN_ROWS:
        raise ValueError(f"need at least {MIN_ROWS} rows to cover every category")
    rng = np.random.default_rng(seed)
    c: dict[str, np.ndarray] = {k: _categorical(rng, d, n) for k, d in CATEGORICALS.items()}
    age_mean = np.array([AGE_MEAN[m] for m in c["MARITAL_STATUS"]])
    c["AGE"] = np.clip(np.rint(rng.normal(age_mean, 11.0)), 19, 74).astype(np.int64)
    c["HOUSEHOLD_MEMBERS"] = rng.choice([1, 2, 3, 4, 5], size=n, p=[0.5, 0.33, 0.11, 0.05, 0.01])
    c["NO_OF_DEPENDENTS"] = rng.choice(
        [0, 1, 2, 3, 4], size=n, p=np.array([84, 12.5, 3.4, 0.2, 0.03]) / 100.13
    )
    edu = np.array([EDU_INCOME[e] for e in c["EDUCATION"]])
    c["INCOME"] = np.round(np.clip(rng.lognormal(np.log(1300.0), 0.75, n) * edu, 0.0, 40621.6), 2)
    c["WORK_SENIORITY"] = _skewed_int(rng, 5, 0.9, 1, 46, n)
    c["BUSINESS AGE"] = _skewed_int(rng, 16, 0.8, 1, 116, n)
    lrc = _skewed_int(rng, 2, 1.3, 1, 110, n)
    c["LENGTH_RELATIONSHIP_WITH_CLIENT"] = lrc
    current = (rng.random(n) < 0.485).astype(np.int64)
    c["CURRENT_ACCOUNT"] = current
    # P(card | account) = 0.384 / 0.485, and never a card without an account
    c["DEBIT_CARD"] = current * (rng.random(n) < 0.384 / 0.485)
    c["SAVING_ACCOUNT"] = (rng.random(n) < 0.0004).astype(np.int64)
    c["SALARY_ACCOUNT"] = (rng.random(n) < 0.123).astype(np.int64)
    c["FOREIGN_ACCOUNT"] = (rng.random(n) < 0.0001).astype(np.int64)
    c["DEPOSIT"] = (rng.random(n) < 0.004).astype(np.int64)
    c["PENSION_FUNDS"] = np.zeros(n, dtype=np.int64)
    c["DEFAULT_FLAG"] = (rng.random(n) < 0.05).astype(np.int64)
    income_z = (np.log1p(c["INCOME"]) - 7.2) / 0.8
    logit = (
        -5.0 + 1.8 * np.log1p(lrc) + 1.2 * c["SALARY_ACCOUNT"] + 0.8 * current
        + 0.6 * c["DEBIT_CARD"] + 0.5 * income_z
    )
    c["FINALIZED_LOAN"] = (rng.random(n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int64)
    return {k: c[k] for k in COLUMNS}


def write_loans_csv(path: str, seed: int, n: int) -> None:
    """Write ``make_loans(seed, n)`` as a headed CSV (the raw file format
    ``sources.readers.read_loans_csv`` scans)."""
    cols = make_loans(seed, n)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(COLUMNS)
        for row in zip(*(cols[k] for k in COLUMNS)):
            w.writerow(row)
