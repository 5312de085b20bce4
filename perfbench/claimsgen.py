"""Seeded claims input generator with its own oracle.

`generate(seed, n_alpha, n_beta, out_dir)` writes an alpha CSV and a beta JSON
array, and beside them the exact bytes the pipeline must produce for them
(`expected_candidates.json`, `expected_metrics.log`). The expected outputs
come from a plain-Python model of the claim rules (normalization,
classification, age, eligibility, first failing exclusion, metrics) applied
to each raw row as it is built, never from running the engine.

The rows cover every classifier branch (exact retryable, exact
non-retryable, keyword inside a sentence, ambiguous, null), the alpha "None"
scrub, whitespace padding, both date formats, unparseable and padded dates,
claims exactly seven days old, missing patients, short and long CSV rows, and
a truncated beta file (one malformed record).
"""
import datetime
import json
import os
import random
import re

TODAY = datetime.date(2025, 7, 30)
MIN_AGE_DAYS = 7
RETRYABLE = {"missing modifier", "incorrect npi", "prior auth required"}
NON_RETRYABLE = {"authorization expired", "incorrect provider type"}
KEYWORDS = ("incorrect procedure", "form incomplete", "not billable")
RECOMMENDATIONS = {
    "missing modifier": "Add correct CPT modifier, resubmit",
    "incorrect npi": "Review provider NPI, correct and resubmit",
    "prior auth required": "Obtain/attach prior authorization and resubmit",
    "incorrect procedure": "Verify CPT/HCPCS code mapping, correct if needed and resubmit",
    "form incomplete": "Fill missing fields and resubmit",
    "not billable": "Confirm coverage/payer policy; update claim or appeal",
}
DEFAULT_RECOMMENDATION = "Review claim details, supply missing info and resubmit"
BUCKETS = ("not_denied_status", "patient_id_missing", "too_recent",
           "non-retryable_or_ambiguous", "malformed")
INPUTS = ("emr_alpha.csv", "emr_beta.json", "emr_beta_truncated.json")
ALPHA_COLUMNS = ("claim_id", "patient_id", "procedure_code", "denial_reason",
                 "submitted_at", "status")


def _pick(rng, table):
    values, cum = table
    return rng.choices(values, cum_weights=cum)[0]


def _table(pairs):
    cum, total = [], 0
    for w, _ in pairs:
        total += w
        cum.append(total)
    return [v for _, v in pairs], cum


# (weight, raw reason text or None). Casing varies; the oracle lowercases.
REASONS = _table([
    (14, "Missing modifier"), (8, "Incorrect NPI"), (8, "Prior auth required"),
    (3, "MISSING MODIFIER"), (2, "prior auth required"),
    (5, "Authorization expired"), (4, "Incorrect provider type"),
    (3, "This claim was not billable per policy"),
    (3, "Form incomplete: box 24J left blank"),
    (3, "Submitted with incorrect procedure code"),
    (2, "Form incomplete"), (2, "NOT BILLABLE"), (1, "Incorrect procedure"),
    (4, "Duplicate claim"), (3, "Pending medical review"), (2, "Unknown"),
    (4, None),
])
STATUSES = _table([(48, "denied"), (4, "DENIED"), (3, " Denied "), (26, "approved"),
                   (8, "pending"), (4, "Approved"), (5, None)])


def _pad(rng, s):
    """Surround `s` with spaces or tabs on about one field in twelve."""
    if s is None or rng.random() >= 1 / 12:
        return s
    return rng.choice((" ", "  ", "\t")) + s + rng.choice(("", " ", " \t"))


def trim_to_null(s):
    if s is None:
        return None
    t = s.strip(" \t\n\r\f\v\x1c\x1d\x1e\x1f\x85\xa0")
    return t or None


def classify(reason):
    if reason is None:
        return "ambiguous"
    r = reason.lower()
    if r in RETRYABLE:
        return "retryable"
    if r in NON_RETRYABLE:
        return "non-retryable"
    if any(k in r for k in KEYWORDS):
        return "retryable"
    return "ambiguous"


_ISO = re.compile(r"(\d{4})-(\d{2})-(\d{2})(?:T(\d{2}):(\d{2}):(\d{2}))?\Z")


def parse_date(raw):
    """The reference's to_iso_date: an ISO date or an ISO date-time, else
    None. Padding, another layout or an impossible date parse to nothing."""
    m = _ISO.match(raw) if raw is not None else None
    if m is None:
        return None
    try:
        if m.group(4) is not None:
            datetime.time(int(m.group(4)), int(m.group(5)), int(m.group(6)))
        return datetime.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    except ValueError:
        return None


def _date_field(rng):
    kind = rng.random()
    if kind < 0.02:
        return None
    if kind < 0.05:
        return rng.choice(("bad-date", "07/01/2025", "2025-13-01", "2025-06-31",
                           "yesterday"))
    if kind < 0.08:
        d = TODAY - datetime.timedelta(days=MIN_AGE_DAYS)  # exactly 7: too recent
    elif kind < 0.10:
        d = TODAY - datetime.timedelta(days=MIN_AGE_DAYS + 1)
    else:
        d = TODAY - datetime.timedelta(days=rng.randint(1, 90))
    raw = d.isoformat()
    if rng.random() < 0.5:
        raw += "T%02d:%02d:%02d" % (rng.randint(0, 23), rng.randint(0, 59),
                                    rng.randint(0, 59))
    return " " + raw if rng.random() < 0.02 else raw


class Oracle:
    """Plain-Python model of the pipeline over raw records, in input order."""

    def __init__(self):
        self.total = 0
        self.by_source = {"alpha": 0, "beta": 0}
        self.flagged = 0
        self.excluded = dict.fromkeys(BUCKETS, 0)
        self.candidates = []

    def add_alpha(self, row):
        """`row`: column -> raw CSV text; absent or empty fields are null."""
        reason = trim_to_null(row.get("denial_reason") or None)
        if reason is not None and reason.lower() == "none":
            reason = None  # the alpha-only "None" scrub
        self._add("alpha", row, "claim_id", "patient_id", reason,
                  "submitted_at")

    def add_beta(self, rec):
        """`rec`: one decoded beta JSON object; "None" is not scrubbed."""
        self._add("beta", rec, "id", "member", trim_to_null(rec.get("error_msg")),
                  "date")

    def add_malformed(self):
        self.excluded["malformed"] += 1

    def _add(self, source, raw, id_key, patient_key, reason, date_key):
        claim_id = trim_to_null(raw.get(id_key) or None)
        patient = trim_to_null(raw.get(patient_key) or None)
        status = trim_to_null(raw.get("status") or None)
        status = status.lower() if status else None
        date = parse_date(raw.get(date_key))
        self.total += 1
        self.by_source[source] += 1
        old = date is not None and (TODAY - date).days > MIN_AGE_DAYS
        denied = status == "denied"
        if denied and patient is not None and old and classify(reason) == "retryable":
            self.flagged += 1
            self.candidates.append({
                "claim_id": claim_id,
                "resubmission_reason": reason,
                "source_system": source,
                "recommended_changes": RECOMMENDATIONS.get(
                    reason.lower(), DEFAULT_RECOMMENDATION),
            })
        elif not denied:
            self.excluded["not_denied_status"] += 1
        elif patient is None:
            self.excluded["patient_id_missing"] += 1
        elif not old:
            self.excluded["too_recent"] += 1
        else:
            self.excluded["non-retryable_or_ambiguous"] += 1

    def metrics_text(self):
        lines = [
            "===== Pipeline Metrics Summary =====",
            f"Total processed: {self.total}",
            "By source: {'alpha': %d, 'beta': %d}" % (
                self.by_source["alpha"], self.by_source["beta"]),
            f"Flagged for resubmission: {self.flagged}",
            "Excluded by reason:",
        ] + [f"  - {b}: {self.excluded[b]}" for b in BUCKETS]
        return "\n".join(lines) + "\n"

    def candidates_text(self):
        # The reference writes json.dump(candidates, f, indent=2).
        return json.dumps(self.candidates, indent=2)


def _csv_field(s):
    if s is None:
        return ""
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _alpha_rows(rng, n, oracle):
    yield ",".join(ALPHA_COLUMNS)
    for i in range(n):
        patient = None if rng.random() < 0.05 else f"P{rng.randint(1, 99999):05d}"
        if patient is None and rng.random() < 0.5:
            patient = "   "  # blank after strip: still missing
        reason = _pick(rng, REASONS)
        if reason is None and rng.random() < 0.6:
            reason = rng.choice(("None", "none", " NONE "))
        fields = [_pad(rng, f"A{i:07d}"), _pad(rng, patient),
                  str(rng.randint(10000, 99999)), _pad(rng, reason),
                  _date_field(rng), _pad(rng, _pick(rng, STATUSES))]
        shape = rng.random()
        if shape < 0.004:
            fields = fields[:rng.randint(1, 5)]  # short row: the rest is null
        elif shape < 0.008:
            fields = fields + ["extra", "columns"]  # ignored by name
        oracle.add_alpha(dict(zip(ALPHA_COLUMNS, fields)))
        yield ",".join(_csv_field(f) for f in fields)


def _beta_records(rng, n, oracle):
    for i in range(n):
        reason = _pick(rng, REASONS)
        if reason is None and rng.random() < 0.5:
            reason = "None"
        rec = {"id": _pad(rng, f"B{i:07d}"),
               "member": None if rng.random() < 0.05 else f"P{rng.randint(1, 99999):05d}",
               "code": str(rng.randint(10000, 99999)),
               "error_msg": _pad(rng, reason),
               "date": _date_field(rng),
               "status": _pad(rng, _pick(rng, STATUSES))}
        for key in ("member", "error_msg", "date"):
            if rec[key] is None and rng.random() < 0.5:
                del rec[key]  # an absent key reads as null
        oracle.add_beta(rec)
        yield json.dumps(rec)


def generate(seed, n_alpha, n_beta, out_dir):
    """Write the inputs and the expected outputs; return their paths and the
    oracle. The pipeline's inputs, in order, are INPUTS."""
    rng = random.Random(seed)
    oracle = Oracle()
    os.makedirs(out_dir, exist_ok=True)
    paths = {name: os.path.join(out_dir, name) for name in (
        "emr_alpha.csv", "emr_beta.json", "emr_beta_truncated.json",
        "expected_candidates.json",
        "expected_metrics.log")}
    with open(paths["emr_alpha.csv"], "w", encoding="utf-8", newline="") as f:
        for line in _alpha_rows(rng, n_alpha, oracle):
            f.write(line + "\n")
    with open(paths["emr_beta.json"], "w", encoding="utf-8") as f:
        f.write("[\n" + ",\n".join(_beta_records(rng, n_beta, oracle)) + "\n]\n")
    # A beta extract cut off mid-record: the whole file is one malformed
    # record and contributes no rows.
    with open(paths["emr_beta_truncated.json"], "w", encoding="utf-8") as f:
        f.write('[\n{"id": "T0000000", "member": "P00001", "code": "9921')
    oracle.add_malformed()
    with open(paths["expected_candidates.json"], "w", encoding="utf-8") as f:
        f.write(oracle.candidates_text())
    with open(paths["expected_metrics.log"], "w", encoding="utf-8") as f:
        f.write(oracle.metrics_text())
    return paths, oracle
