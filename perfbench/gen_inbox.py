#!/usr/bin/env python3
"""Seeded, CMS-shaped inbox generator for the pipeline workloads.

Writes two inbox directories under --out:

- inbox-day1: one CMS Nursing Home release (ProviderInfo, SurveySummary,
  Penalties, QualityMDS) with the raw, pre-normalization CMS headers and
  space-padded cells, plus one file the routing table does not know
  (StateUSAverages), which must land in the error zone.
- inbox-day2: the next day's republished release. About 1 % of providers
  have changed attributes and about 0.5 % are new. The Penalties file is
  re-delivered byte-identical with the same name and mtime, so the ingest
  manifest must skip it. One more unknown file (CitationDescriptions).

Size: --scale 1.0 is one CMS release (15,000 providers; 3 survey rows,
~0.8 penalty rows and 17 quality rows per provider). The same --seed and
--scale give byte-identical files with identical mtimes.

The checks in checks.py derive every expected value from `model()`, never
from the program's output.

Usage: python3 perfbench/gen_inbox.py --seed N --scale X --out DIR
"""
import argparse
import calendar
import hashlib
import os
import random

PROVIDERS_PER_RELEASE = 15000
SURVEYS_PER_PROVIDER = 3
QUALITY_MEASURES = ["401", "402", "403", "404", "405", "406", "407", "408",
                    "409", "410", "415", "419", "430", "434", "451", "452",
                    "453"]
CHANGED_SHARE = 0.01
NEW_SHARE = 0.005
DAY1, DAY2 = "2025-04-01", "2025-04-02"

# (raw CMS header, canonical column after universal cleaning). The
# canonical names are written out by hand from the reference's cleaning
# rules so the checks do not reuse the program's normalization.
FACILITY_COLS = [
    ("CMS Certification Number (CCN)", "facility_number"),
    ("Provider Name", "facility_name"),
    ("Provider Address", "facility_address"),
    ("City/Town", "city_town"),
    ("State", "state"),
    ("ZIP Code", "zip_code"),
    ("Telephone Number", "telephone_number"),
    ("Provider SSA County Code", "provider_ssa_county_code"),
    ("County/Parish", "county_parish"),
    ("Ownership Type", "ownership_type"),
    ("Number of Certified Beds", "number_of_certified_beds"),
    ("Average Number of Residents per Day",
     "average_number_of_residents_per_day"),
    ("Average Number of Residents per Day Footnote",
     "average_number_of_residents_per_day_footnote"),
    ("Provider Type", "facility_type"),
    ("Provider Resides in Hospital", "provider_resides_in_hospital"),
    ("Legal Business Name", "legal_business_name"),
    ("Date First Approved to Provide Medicare and Medicaid Services",
     "date_first_approved_to_provide_medicare_and_medicaid_services"),
    ("Affiliated Entity Name", "affiliated_entity_name"),
    ("Affiliated Entity ID", "affiliated_entity_id"),
    ("Continuing Care Retirement Community",
     "continuing_care_retirement_community"),
    ("Special Focus Status", "special_focus_status"),
    ("Abuse Icon", "abuse_icon"),
]
RATING_COLS = [
    ("Overall Rating", "overall_rating"),
    ("Overall Rating Footnote", "overall_rating_footnote"),
    ("Health Inspection Rating", "health_inspection_rating"),
    ("Health Inspection Rating Footnote",
     "health_inspection_rating_footnote"),
    ("QM Rating", "qm_rating"),
    ("QM Rating Footnote", "qm_rating_footnote"),
    ("Long-Stay QM Rating", "long_stay_qm_rating"),
    ("Short-Stay QM Rating", "short_stay_qm_rating"),
    ("Staffing Rating", "staffing_rating"),
    ("Staffing Rating Footnote", "staffing_rating_footnote"),
]
STAFFING_COLS = [
    ("Reported Nurse Aide Staffing Hours per Resident per Day",
     "reported_nurse_aide_staffing_hours_per_resident_per_day"),
    ("Reported LPN Staffing Hours per Resident per Day",
     "reported_lpn_staffing_hours_per_resident_per_day"),
    ("Reported RN Staffing Hours per Resident per Day",
     "reported_rn_staffing_hours_per_resident_per_day"),
    ("Reported Total Nurse Staffing Hours per Resident per Day",
     "reported_total_nurse_staffing_hours_per_resident_per_day"),
    ("Total nursing staff turnover", "total_nursing_staff_turnover"),
    ("Registered Nurse turnover", "registered_nurse_turnover"),
    ("Nursing Case-Mix Index", "nursing_case_mix_index"),
    ("Adjusted Total Nurse Staffing Hours per Resident per Day",
     "adjusted_total_nurse_staffing_hours_per_resident_per_day"),
]
SURVEY_COLS = [
    ("Rating Cycle 1 Standard Survey Health Date",
     "rating_cycle_1_standard_survey_health_date"),
    ("Rating Cycle 1 Total Number of Health Deficiencies",
     "rating_cycle_1_total_number_of_health_deficiencies"),
    ("Rating Cycle 1 Health Revisit Score",
     "rating_cycle_1_health_revisit_score"),
    ("Rating Cycle 2 Total Number of Health Deficiencies",
     "rating_cycle_2_total_number_of_health_deficiencies"),
    ("Rating Cycle 2 Health Revisit Score",
     "rating_cycle_2_health_revisit_score"),
    ("Total Weighted Health Survey Score",
     "total_weighted_health_survey_score"),
]
PENALTY_COLS = [
    ("Number of Facility Reported Incidents",
     "number_of_facility_reported_incidents"),
    ("Number of Substantiated Complaints",
     "number_of_substantiated_complaints"),
    ("Number of Citations from Infection Control Inspections",
     "number_of_citations_from_infection_control_inspections"),
    ("Number of Fines", "number_of_fines"),
    ("Total Amount of Fines in Dollars", "total_amount_of_fines_in_dollars"),
    ("Number of Payment Denials", "number_of_payment_denials"),
    ("Total Number of Penalties", "total_number_of_penalties"),
]
TAIL_COLS = [("Location", "location"), ("Processing Date", "processing_date")]
PROVIDER_COLS = (FACILITY_COLS + RATING_COLS + STAFFING_COLS + SURVEY_COLS
                 + PENALTY_COLS + TAIL_COLS)

IDENTITY_COLS = [("CMS Certification Number (CCN)", "facility_number"),
                 ("Provider Name", "facility_name"),
                 ("Provider Address", "facility_address"),
                 ("City/Town", "city_town"), ("ZIP Code", "zip_code")]
SURVEY_SUMMARY_COLS = [c for c in IDENTITY_COLS if c[1] != "facility_address"
                       ] + [
    ("Survey Date", "survey_date"), ("Survey Type", "survey_type"),
    ("Count of Health Deficiencies", "count_of_health_deficiencies"),
    ("Count of Fire Safety Deficiencies",
     "count_of_fire_safety_deficiencies")]
PENALTIES_COLS = IDENTITY_COLS + [
    ("Penalty Date", "penalty_date"), ("Penalty Type", "penalty_type"),
    ("Fine Amount", "fine_amount"),
    ("Payment Denial Start Date", "payment_denial_start_date"),
    ("Payment Denial Length in Days", "payment_denial_length_in_days")]
QUALITY_COLS = IDENTITY_COLS + [
    ("Measure Code", "measure_code"),
    ("Measure Description", "measure_description"),
    ("Resident Type", "resident_type"),
    ("Q1 Measure Score", "q1_measure_score"),
    ("Footnote for Q1 Measure Score", "footnote_for_q1_measure_score"),
    ("Q2 Measure Score", "q2_measure_score"),
    ("Footnote for Q2 Measure Score", "footnote_for_q2_measure_score"),
    ("Q3 Measure Score", "q3_measure_score"),
    ("Footnote for Q3 Measure Score", "footnote_for_q3_measure_score"),
    ("Q4 Measure Score", "q4_measure_score"),
    ("Footnote for Q4 Measure Score", "footnote_for_q4_measure_score"),
    ("Four Quarter Average Score", "four_quarter_average_score"),
    ("Footnote for Four Quarter Average Score",
     "footnote_for_four_quarter_average_score"),
    ("Used in Quality Measure Five Star Rating",
     "used_in_quality_measure_five_star_rating"),
    ("Measure Period", "measure_period"),
    ("Location", "location"), ("Processing Date", "processing_date")]

STATES = ["AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI",
          "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI",
          "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC",
          "ND", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT",
          "VT", "VA", "WA", "WV", "WI", "WY"]
WORDS = ["ALPINE", "BIRCH", "CEDAR", "DOGWOOD", "ELM", "FAIRVIEW", "GARDEN",
         "HARBOR", "IVY", "JUNIPER", "LAKESIDE", "MAPLE", "MEADOW", "OAK",
         "PINE", "RIVERSIDE", "SUNRISE", "VALLEY", "WILLOW", "WOODLAND"]
KINDS = ["CARE CENTER", "HEALTH AND REHAB", "NURSING HOME", "LIVING CENTER",
         "MANOR", "HEALTHCARE"]
STREETS = ["MAIN ST", "OAK AVE", "CHURCH RD", "HIGHLAND DR", "PARK BLVD",
           "MILL LN", "RIVER RD", "SCHOOL ST"]
CITIES = ["SPRINGFIELD", "FRANKLIN", "GREENVILLE", "BRISTOL", "CLINTON",
          "SALEM", "FAIRFIELD", "MADISON", "GEORGETOWN", "ARLINGTON"]
OWNERSHIP = ["For profit - Corporation", "For profit - Limited Liability company",
             "Non profit - Corporation", "Non profit - Church related",
             "Government - County", "Government - State"]
MEASURES = {"401": "Percentage of long-stay residents whose need for help "
                   "with daily activities has increased",
            "402": "Percentage of long-stay residents who self-report "
                   "moderate to severe pain"}


def _ccn(i):
    return f"{i % 50 + 1:02d}{5000 + i // 50:04d}"


def _rating(rng):
    return str(rng.randint(1, 5))


def _maybe(rng, p, value):
    return value if rng.random() < p else ""


def _provider(seed, i):
    """One provider row (canonical column → raw value, '' = empty)."""
    rng = random.Random(f"{seed}:provider:{i}")
    state = STATES[i % 50]
    name = (f"{rng.choice(WORDS)} {rng.choice(WORDS)} {rng.choice(KINDS)}")
    city = rng.choice(CITIES)
    zipc = f"{rng.randint(10000, 99999)}"
    addr = f"{rng.randint(1, 9999)} {rng.choice(STREETS)}"
    beds = rng.randint(20, 300)
    hours = [round(rng.uniform(0.2, 2.5), 5) for _ in range(3)]
    total = round(sum(hours), 5)
    ent = _maybe(rng, 0.6, str(rng.randint(100, 999)))
    p = {
        "facility_number": _ccn(i),
        "facility_name": name,
        "facility_address": addr,
        "city_town": city,
        "state": state,
        "zip_code": zipc,
        "telephone_number": f"{rng.randint(200, 999)}555{rng.randint(1000, 9999)}",
        "provider_ssa_county_code": f"{rng.randint(1, 999):03d}",
        "county_parish": rng.choice(CITIES).title(),
        "ownership_type": rng.choice(OWNERSHIP),
        "number_of_certified_beds": str(beds),
        "average_number_of_residents_per_day":
            f"{beds * rng.uniform(0.5, 0.98):.1f}",
        "average_number_of_residents_per_day_footnote": _maybe(rng, 0.05, "10"),
        "facility_type": rng.choice(["Medicare and Medicaid", "Medicare",
                                     "Medicaid"]),
        "provider_resides_in_hospital": rng.choice(["Y", "N"]),
        "legal_business_name": f"{name} LLC",
        "date_first_approved_to_provide_medicare_and_medicaid_services":
            f"{rng.randint(1966, 2020)}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d}",
        "affiliated_entity_name":
            f"{rng.choice(WORDS)} HEALTH GROUP" if ent else "",
        "affiliated_entity_id": ent,
        "continuing_care_retirement_community": rng.choice(["Y", "N"]),
        "special_focus_status": _maybe(rng, 0.03, "SFF Candidate"),
        "abuse_icon": rng.choice(["Y", "N", "N", "N"]),
        "overall_rating": _rating(rng),
        "overall_rating_footnote": _maybe(rng, 0.05, "1"),
        "health_inspection_rating": _rating(rng),
        "health_inspection_rating_footnote": _maybe(rng, 0.05, "1"),
        "qm_rating": _rating(rng),
        "qm_rating_footnote": _maybe(rng, 0.05, "2"),
        "long_stay_qm_rating": _rating(rng),
        "short_stay_qm_rating": _rating(rng),
        "staffing_rating": _rating(rng),
        "staffing_rating_footnote": _maybe(rng, 0.05, "6"),
        "reported_nurse_aide_staffing_hours_per_resident_per_day":
            str(hours[0]),
        "reported_lpn_staffing_hours_per_resident_per_day": str(hours[1]),
        "reported_rn_staffing_hours_per_resident_per_day": str(hours[2]),
        "reported_total_nurse_staffing_hours_per_resident_per_day":
            str(total),
        "total_nursing_staff_turnover": f"{rng.uniform(10, 90):.1f}",
        "registered_nurse_turnover": _maybe(rng, 0.9,
                                            f"{rng.uniform(0, 80):.1f}"),
        "nursing_case_mix_index": f"{rng.uniform(0.8, 1.8):.4f}",
        "adjusted_total_nurse_staffing_hours_per_resident_per_day":
            f"{total * rng.uniform(0.9, 1.1):.5f}",
        "rating_cycle_1_standard_survey_health_date":
            f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        "rating_cycle_1_total_number_of_health_deficiencies":
            str(rng.randint(0, 30)),
        "rating_cycle_1_health_revisit_score": str(rng.choice([0, 0, 4, 8])),
        "rating_cycle_2_total_number_of_health_deficiencies":
            str(rng.randint(0, 30)),
        "rating_cycle_2_health_revisit_score": str(rng.choice([0, 0, 4, 8])),
        "total_weighted_health_survey_score": f"{rng.uniform(0, 200):.3f}",
        "number_of_facility_reported_incidents": str(rng.randint(0, 12)),
        "number_of_substantiated_complaints": str(rng.randint(0, 10)),
        "number_of_citations_from_infection_control_inspections":
            str(rng.randint(0, 3)),
        "number_of_fines": str(rng.randint(0, 3)),
        "total_amount_of_fines_in_dollars": str(rng.randint(0, 90) * 650),
        "number_of_payment_denials": str(rng.randint(0, 2)),
        "total_number_of_penalties": str(rng.randint(0, 5)),
        "location": f"{addr} {city} {state} {zipc}",
        "processing_date": DAY1,
    }
    return p


def _surveys(seed, p):
    rng = random.Random(f"{seed}:surveys:{p['facility_number']}")
    return [dict(_identity(p, SURVEY_SUMMARY_COLS),
                 survey_date=f"202{k}-{rng.randint(1, 12):02d}-"
                             f"{rng.randint(1, 28):02d}",
                 survey_type=rng.choice(["Health", "Fire Safety"]),
                 count_of_health_deficiencies=str(rng.randint(0, 20)),
                 count_of_fire_safety_deficiencies=str(rng.randint(0, 9)))
            for k in range(2, 2 + SURVEYS_PER_PROVIDER)]


def _penalties(seed, p):
    rng = random.Random(f"{seed}:penalties:{p['facility_number']}")
    n = rng.choices([0, 1, 2, 3], weights=[45, 35, 15, 5])[0]
    rows = []
    for _ in range(n):
        fine = rng.random() < 0.8
        rows.append(dict(
            _identity(p, PENALTIES_COLS),
            penalty_date=f"2024-{rng.randint(1, 12):02d}-"
                         f"{rng.randint(1, 28):02d}",
            penalty_type="Fine" if fine else "Payment Denial",
            fine_amount=str(rng.randint(1, 200) * 325) if fine else "",
            payment_denial_start_date="" if fine else
            f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
            payment_denial_length_in_days="" if fine else
            str(rng.randint(5, 60))))
    return rows


def _quality(seed, p, version=0):
    rng = random.Random(f"{seed}:quality:{p['facility_number']}:{version}")
    rows = []
    for code in QUALITY_MEASURES:
        qs = [f"{rng.uniform(0, 100):.6f}" for _ in range(4)]
        avg = f"{sum(float(q) for q in qs) / 4:.6f}"
        rows.append(dict(
            _identity(p, QUALITY_COLS),
            measure_code=code,
            measure_description=MEASURES.get(code, f"Quality measure {code}"),
            resident_type="Long Stay" if code < "430" else "Short Stay",
            q1_measure_score=qs[0], footnote_for_q1_measure_score="",
            q2_measure_score=qs[1], footnote_for_q2_measure_score="",
            q3_measure_score=qs[2], footnote_for_q3_measure_score="",
            q4_measure_score=qs[3],
            footnote_for_q4_measure_score=_maybe(rng, 0.03, "9"),
            four_quarter_average_score=avg,
            footnote_for_four_quarter_average_score="",
            used_in_quality_measure_five_star_rating=rng.choice(["Y", "N"]),
            measure_period="20240101-20241231",
            location=p["location"], processing_date=p["processing_date"]))
    return rows


def _identity(p, cols):
    return {c: p[c] for _, c in cols if c in p}


# provider attributes the day-2 republish may change, across the dims
CHANGEABLE = ["overall_rating", "qm_rating", "staffing_rating",
              "reported_rn_staffing_hours_per_resident_per_day",
              "total_nursing_staff_turnover", "telephone_number",
              "ownership_type", "number_of_fines",
              "total_weighted_health_survey_score"]


def model(seed, scale):
    """Both releases as plain rows: the single source of truth for the
    files written and for every expected value the checks compare."""
    n = max(50, round(PROVIDERS_PER_RELEASE * scale))
    day1 = [_provider(seed, i) for i in range(n)]
    rng = random.Random(f"{seed}:churn")
    changed = sorted(rng.sample(range(n), max(1, round(n * CHANGED_SHARE))))
    n_new = max(1, round(n * NEW_SHARE))
    day2 = [dict(p) for p in day1]
    changed_ccns = []
    for i in changed:
        p = day2[i]
        for col in rng.sample(CHANGEABLE, rng.randint(1, 3)):
            old = p[col]
            while p[col] == old:
                if col.endswith("_rating"):
                    p[col] = _rating(rng)
                elif col == "ownership_type":
                    p[col] = rng.choice(OWNERSHIP)
                elif col == "telephone_number":
                    p[col] = f"{rng.randint(200, 999)}555{rng.randint(1000, 9999)}"
                elif col == "number_of_fines":
                    p[col] = str(rng.randint(4, 9))
                else:
                    p[col] = f"{rng.uniform(0.1, 99):.3f}"
        changed_ccns.append(p["facility_number"])
    new = [_provider(seed, i) for i in range(n, n + n_new)]
    day2 += new
    changed_set = set(changed_ccns)
    quality2 = []
    for p in day2:
        # a changed provider's quality scores are republished too
        quality2 += _quality(seed, p, 1 if p["facility_number"] in changed_set
                             else 0)
    return {
        "scale": scale, "seed": seed,
        "day1": {"providers": day1,
                 "surveys": [r for p in day1 for r in _surveys(seed, p)],
                 "penalties": [r for p in day1 for r in _penalties(seed, p)],
                 "quality": [r for p in day1 for r in _quality(seed, p)]},
        "day2": {"providers": day2,
                 "surveys": [r for p in day2 for r in _surveys(seed, p)],
                 # re-delivered unchanged: the day-1 rows
                 "penalties": [r for p in day1 for r in _penalties(seed, p)],
                 "quality": quality2},
        "changed": changed_ccns,
        "new": [p["facility_number"] for p in new],
    }


PAD_SHARE = 0.3
PADS = [("", " "), ("", "  "), (" ", " "), (" ", "  "), ("  ", " "),
        ("  ", "  ")]


def _pad(rng, v):
    """Pads about 30 % of non-empty cells with spaces on one or both sides
    (the reference's trim only strips spaces)."""
    r = rng.random()
    if not v or r >= PAD_SHARE:
        return v
    left, right = PADS[int(r / PAD_SHARE * len(PADS))]
    return left + v + right


def _csv(seed, tag, cols, rows):
    rng = random.Random(f"{seed}:pad:{tag}")
    lines = [",".join(_pad(rng, h) for h, _ in cols)]
    for r in rows:
        line = ",".join(_pad(rng, r[c]) for _, c in cols)
        # no quoting: no cell may hold a separator, quote or newline
        assert line.count(",") == len(cols) - 1 and '"' not in line, line
        lines.append(line)
    return ("\n".join(lines) + "\n").encode()


def _epoch(day):
    y, m, d = map(int, day.split("-"))
    return calendar.timegm((y, m, d, 6, 0, 0))


def _unknown(seed, tag, header, n):
    rng = random.Random(f"{seed}:unknown:{tag}")
    rows = [",".join([STATES[i % 50]] + [str(rng.randint(0, 99))
                                         for _ in header[1:]])
            for i in range(n)]
    return ("\n".join([",".join(header)] + rows) + "\n").encode()


# file name → builder, per day; the routing table maps ProviderInfo,
# SurveySummary, Penalties and QualityMDS, anything else routes to error
def files(m):
    s = m["seed"]
    d1, d2 = m["day1"], m["day2"]
    pen = _csv(s, "penalties", PENALTIES_COLS, d1["penalties"])
    return {
        "inbox-day1": [
            ("NH_ProviderInfo_Apr2025.csv", DAY1,
             _csv(s, "provider1", PROVIDER_COLS, d1["providers"])),
            ("NH_SurveySummary_Apr2025.csv", DAY1,
             _csv(s, "survey1", SURVEY_SUMMARY_COLS, d1["surveys"])),
            ("NH_Penalties_Apr2025.csv", DAY1, pen),
            ("NH_QualityMDS_Apr2025.csv", DAY1,
             _csv(s, "quality1", QUALITY_COLS, d1["quality"])),
            ("NH_StateUSAverages_Apr2025.csv", DAY1,
             _unknown(s, "averages", ["State or Nation",
                                      "Cycle 1 Total Number of Health "
                                      "Deficiencies",
                                      "Overall Rating"], 50)),
        ],
        "inbox-day2": [
            ("NH_ProviderInfo_Apr2025_rev2.csv", DAY2,
             _csv(s, "provider2", PROVIDER_COLS, d2["providers"])),
            ("NH_SurveySummary_Apr2025_rev2.csv", DAY2,
             _csv(s, "survey2", SURVEY_SUMMARY_COLS, d2["surveys"])),
            ("NH_Penalties_Apr2025.csv", DAY1, pen),
            ("NH_QualityMDS_Apr2025_rev2.csv", DAY2,
             _csv(s, "quality2", QUALITY_COLS, d2["quality"])),
            ("NH_CitationDescriptions_Apr2025.csv", DAY2,
             _unknown(s, "citations", ["Deficiency Prefix",
                                       "Deficiency Tag Number",
                                       "Deficiency Category"], 30)),
        ],
    }


UNKNOWN_FILES = {"inbox-day1": "NH_StateUSAverages_Apr2025.csv",
                 "inbox-day2": "NH_CitationDescriptions_Apr2025.csv"}
REDELIVERED = {"inbox-day1": [], "inbox-day2": ["NH_Penalties_Apr2025.csv"]}


def write(m, out):
    """Write both inboxes under `out`; returns {inbox: bytes written}."""
    sizes = {}
    for inbox, entries in files(m).items():
        d = os.path.join(out, inbox)
        os.makedirs(d, exist_ok=True)
        sizes[inbox] = 0
        for name, day, data in entries:
            path = os.path.join(d, name)
            with open(path, "wb") as f:
                f.write(data)
            os.utime(path, (_epoch(day), _epoch(day)))
            sizes[inbox] += len(data)
    return sizes


def digest(root):
    """SHA-256 over every file's relative path, mtime and bytes."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(f"{os.path.relpath(p, root)}:{os.stat(p).st_mtime_ns}\n"
                     .encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(write(model(a.seed, a.scale), a.out))


if __name__ == "__main__":
    main()
