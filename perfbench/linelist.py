"""Seeded synthetic line lists for spec/linelist.json, with the outputs
each one must produce, derived from how the rows were built.

A subject has 1-6 visit rows. Every non-key cell is the `NA` sentinel
with probability 5% (the spec's `emptyFields`). Faults are planted so each
row fails validation for at most one known reason:
  - `visit_date` NA: the required-field error on `visit` and on every
    `observation` row the visit emits;
  - otherwise an `age` of "unknown" or a `temperature` of "38,5" (never both).
"""
import csv
import datetime
import random

COLUMNS = [
    "subjid", "redcap_event", "site", "sex", "age", "weight_lb", "admit_date",
    "visit_date", "hosp_id", "temp", "heart_rate", "antiviral___1",
    "antiviral___2", "antiviral___3", "fever_cmyn", "cough_cmyn",
    "headache_cmyn", "dyspnea_cmyn", "fatigue_cmyn", "vomit_cmyn", "outcome",
    "notes",
]
SYMPTOMS = ["fever_cmyn", "cough_cmyn", "headache_cmyn", "dyspnea_cmyn",
            "fatigue_cmyn", "vomit_cmyn"]
NA_RATE = 0.05
WORDS = ("stable improving worse oxygen ward transfer review pending "
         "discharge plan fluids rest").split()

MISSING_VISIT = "data must contain ['subject_id', 'visit_date'] properties"
MISSING_OBS = "data must contain ['subject_id', 'name', 'date'] properties"
BAD_AGE = "data.age must be integer"
BAD_TEMP = "data.temperature must be number"


def _subject_rows(rng, sid, n):
    admit = datetime.date(2020, 1, 1) + datetime.timedelta(days=rng.randrange(1400))
    site = f"site-{rng.randrange(40):02d}"
    sex = str(rng.randrange(1, 4))
    age = str(rng.randrange(1, 96))
    weight = f"{rng.uniform(90, 260):.1f}"
    hosp = f"H{rng.randrange(10**8):08d}"
    for k in range(n):
        event = "admit" if k == 0 else ("discharge" if k == n - 1 else f"day{k}")
        visit = admit + datetime.timedelta(days=2 * k)
        yield [
            sid, event, site, sex, age, weight, admit.strftime("%d/%m/%Y"),
            visit.strftime("%d/%m/%Y"), hosp, f"{rng.gauss(37.4, 0.8):.1f}",
            str(rng.randrange(55, 130)),
            *(rng.choice("0001") for _ in range(3)),
            *(rng.choice("0012") for _ in SYMPTOMS),
            str(rng.randrange(1, 5)),
            " ".join(rng.choice(WORDS) for _ in range(rng.randrange(2, 7))),
        ]


def generate(path, rows, seed):
    """Write a line list of `rows` rows to `path`; return its expected outputs."""
    rng = random.Random(seed)
    col = {c: i for i, c in enumerate(COLUMNS)}
    total = subjects = emitted = 0
    visit_err = {MISSING_VISIT: 0, BAD_AGE: 0, BAD_TEMP: 0}
    obs_missing = 0
    with open(path, "w", newline="") as fp:
        w = csv.writer(fp, lineterminator="\n")
        w.writerow(COLUMNS)
        while total < rows:
            n = min(rng.randrange(1, 7), rows - total)
            subjects += 1
            for r in _subject_rows(rng, f"S{seed % 1000:03d}-{subjects:06d}", n):
                for i in range(2, len(r)):  # keys subjid, redcap_event stay set
                    if rng.random() < NA_RATE:
                        r[i] = "NA"
                fault = rng.random()
                if fault < 0.01 and r[col["age"]] != "NA":
                    r[col["age"]] = "unknown"
                elif fault < 0.02 and r[col["temp"]] != "NA":
                    r[col["temp"]] = r[col["temp"]].replace(".", ",")
                n_obs = sum(r[col[s]] == "1" for s in SYMPTOMS)
                emitted += n_obs
                if r[col["visit_date"]] == "NA":
                    visit_err[MISSING_VISIT] += 1
                    obs_missing += n_obs
                elif r[col["age"]] == "unknown":
                    visit_err[BAD_AGE] += 1
                elif "," in r[col["temp"]]:
                    visit_err[BAD_TEMP] += 1
                w.writerow(r)
                total += 1
    visit_err = {m: c for m, c in visit_err.items() if c}
    errors = {}
    if visit_err:
        errors["visit"] = visit_err
    if obs_missing:
        errors["observation"] = {MISSING_OBS: obs_missing}
    return {
        "rows": total,
        "total": {"observation": emitted, "visit": total},
        "total_valid": {"observation": emitted - obs_missing,
                        "visit": total - sum(visit_err.values())},
        "validation_errors": errors,
        "csv_rows": {"subject": subjects, "visit": total, "observation": emitted},
    }
