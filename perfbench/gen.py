"""Seeded input generators for the benchmark.

``registry_drop`` is a pure function of its arguments.  It writes one zip
of registry files -- delimited registrations (``.csv``) and multi-line
reports (``.txt``) -- plus ``expected.json``: the record count per
(canonical table, klass) and an order-independent checksum of
``(klass, fields, index)``.  The expected values come from the generator's
own knowledge of each clean value it dirtied; the program under test never
computes them.  No generated date is invalid: the mapping raises on those.

Run ``python3 perfbench/gen.py registry <dir> <seed> <files> <rows>`` to
write a drop by hand.
"""
import hashlib
import io
import json
import os
import random
import sys
import zipfile

# The mapping the import workloads run.  Registrations fan out to two
# klasses (Patient, Tumour); reports are segmented from multi-line text.
MAPPING_YAML = r"""
- canonical_name: registrations
  filename_pattern: !ruby/regexp /\Aregistrations_\d+\.csv\z/
  header_lines: 1
  columns:
  - column: nhs_number
    klass:
    - Patient
    - Tumour
    mappings:
    - field: nhsnumber
      clean: :nhsnumber
  - column: surname
    klass: Patient
    mappings:
    - field: surname
      clean: :name
  - column: forename
    klass: Patient
    mappings:
    - field: forename
      clean: :name
  - column: sex
    klass: Patient
    mappings:
    - field: sex
      clean: :sex
  - column: postcode
    klass: Patient
    mappings:
    - field: postcode
      clean: :postcode
  - column: birth_date
    klass: Patient
    mappings:
    - field: birthdate
      format: "%d/%m/%Y"
  - column: diagnosis
    klass: Tumour
    mappings:
    - field: icd
      clean: :icd
  - column: diagnosis_date
    klass: Tumour
    mappings:
    - field: diagnosisdate
      format: "%Y%m%d"
  - column: laterality
    klass: Tumour
    mappings:
    - field: laterality
      map:
        L: LEFT
        R: RIGHT
        B: BILATERAL
  - column: stage
    klass: Tumour
    mappings:
    - field: stage
      match: !ruby/regexp /\Astage\s*([0-4])/i
  - column: grade
    klass: Tumour
    mappings:
    - field: grade
      replace:
        "Grade ": ""
- canonical_name: reports
  filename_pattern: !ruby/regexp /\Areports_\d+\.txt\z/
  klass: PathologyReport
  start_line_pattern: !ruby/regexp /\AREPORT /
  capture_start_line: true
  end_in_a_record: true
  columns:
  - column: report_id
    non_tabular_cell:
      lines: 0
      capture: !ruby/regexp /\AREPORT (\d+)/
    mappings:
    - field: reportid
  - column: nhs_number
    non_tabular_cell:
      lines: 1
      capture: !ruby/regexp /\ANHS:(.*)\z/
    mappings:
    - field: nhsnumber
      clean: :nhsnumber
  - column: report_date
    non_tabular_cell:
      lines: 2
      capture: !ruby/regexp /\ADATE:(.*)\z/
    mappings:
    - field: reportdate
      format: "%Y-%m-%d"
  - column: diagnosis
    non_tabular_cell:
      lines: 3
      capture: !ruby/regexp /\ADIAG:(.*)\z/
    mappings:
    - field: icd
      clean: :icd
  - column: text
    non_tabular_cell:
      lines: 4
      capture: !ruby/regexp /\ATEXT:(.*)\z/
    mappings:
    - field: text
"""

REG_HEADER = ["nhs_number", "surname", "forename", "sex", "postcode",
              "birth_date", "diagnosis", "diagnosis_date", "laterality",
              "stage", "grade"]

SURNAMES = ["SMITH", "JONES", "O'BRIEN", "ST JOHN", "TAYLOR", "BROWN",
            "WILLIAMS", "DAVIES", "EVANS", "THOMAS", "MACDONALD", "PATEL",
            "KHAN", "WRIGHT", "ROBINSON", "WOOD", "HALL", "GREEN"]
FORENAMES = ["JOHN", "MARY ANNE", "JAMES", "SARAH", "DAVID", "EMMA",
             "MOHAMMED", "OLIVIA", "PETER", "GRACE", "AMIR", "CHLOE"]
ICD = ["C34.3", "C50.9", "C18.7", "C61", "R93.2", "Z51.5", "C43.5", "D05.1"]
WORDS = ["tumour", "margin", "clear", "biopsy", "invasive", "grade",
         "nodes", "negative", "positive", "specimen", "lesion", "duct"]
BLANK = 0.03  # share of optional cells left blank


def _canon(klass, fields, index):
    """The record identity the checksum sums over; the check reads the
    program's parquet output and renders the same string."""
    body = "\x1e".join(sorted(f"{k}={v}" for k, v in fields.items()))
    return f"{klass}\x1f{body}\x1f{index}"


def record_hash(klass, fields, index):
    return int(hashlib.md5(_canon(klass, fields, index).encode()).hexdigest()[:15], 16)


def _blank(rng):
    return rng.random() < BLANK


def _nhs(rng):
    """(raw, clean) NHS number: spaced, dashed or plain digits."""
    d = "".join(rng.choice("0123456789") for _ in range(10))
    style = rng.randrange(3)
    raw = d if style == 0 else (f"{d[:3]} {d[3:6]} {d[6:]}" if style == 1
                                else f"{d[:3]}-{d[3:6]}-{d[6:]}")
    return raw, d


def _name(rng, pool):
    """(raw, clean) name; the dirty forms are the :name cleaner's inputs
    (lower case, padding, '.', ';' and '`' variants)."""
    clean = rng.choice(pool)
    raw = clean.replace("'", "`") if rng.random() < 0.5 else clean
    if clean == "ST JOHN" and rng.random() < 0.5:
        raw = "st. john"
    if " " in raw and rng.random() < 0.3:
        raw = raw.replace(" ", ";", 1)
    style = rng.randrange(3)
    if style == 1:
        raw = raw.lower()
    elif style == 2:
        raw = f" {raw.title()}  "
    return raw, clean


SEX = [("M", "1"), ("F", "2"), ("1", "1"), ("2", "2"), ("male", "1"),
       ("Female", "2"), ("U", "0")]
LETTERS = "ABCDEFGHJKLMNOPRSTUWYZ"


def _postcode(rng):
    """(raw, clean) UK postcode in the 7-character 'db' convention."""
    area = "".join(rng.choice(LETTERS) for _ in range(rng.randrange(1, 3)))
    district = str(rng.randrange(1, 10))
    if rng.random() < 0.4:
        district += str(rng.randrange(0, 10))
    inward = str(rng.randrange(0, 10)) + rng.choice(LETTERS) + rng.choice(LETTERS)
    outward = area + district
    clean = {2: outward + "  ", 3: outward + " ", 4: outward}[len(outward)] + inward
    style = rng.randrange(3)
    raw = (f"{outward} {inward}" if style == 0 else
           (f"{outward}{inward}".lower() if style == 1 else f"{outward.lower()} {inward}"))
    return raw, clean


def _date(rng, lo_year, hi_year):
    y, m, d = rng.randrange(lo_year, hi_year), rng.randrange(1, 13), rng.randrange(1, 29)
    return y, m, d


def _icd(rng, seps):
    codes = rng.sample(ICD, rng.randrange(1, 4))
    sep = rng.choice(seps)
    raw = sep.join(codes)
    if rng.random() < 0.5:
        raw = raw.lower()
    return raw, " ".join(c.replace(".", "") for c in codes)


def _registration(rng, lineno):
    """One delimited row and its two expected records."""
    patient, tumour = {}, {}
    cells = []
    nhs_raw, nhs = _nhs(rng)
    if _blank(rng):
        nhs_raw = ""
    else:
        patient["nhsnumber"] = tumour["nhsnumber"] = nhs
    cells.append(nhs_raw)
    for field, pool in (("surname", SURNAMES), ("forename", FORENAMES)):
        raw, clean = _name(rng, pool)
        if _blank(rng):
            raw = "  " if rng.random() < 0.5 else ""
        else:
            patient[field] = clean
        cells.append(raw)
    raw, clean = rng.choice(SEX)
    patient["sex"] = clean
    cells.append(raw)
    raw, clean = _postcode(rng)
    if _blank(rng):
        raw = ""
    else:
        patient["postcode"] = clean
    cells.append(raw)
    y, m, d = _date(rng, 1930, 2005)
    cells.append(f"{d:02d}/{m:02d}/{y:04d}")
    patient["birthdate"] = f"{y:04d}-{m:02d}-{d:02d}"
    raw, clean = _icd(rng, [";", "; ", " "])
    tumour["icd"] = clean
    cells.append(raw)
    if _blank(rng):
        cells.append("")
    else:
        y, m, d = _date(rng, 2005, 2024)
        cells.append(f"{y:04d}{m:02d}{d:02d}")
        tumour["diagnosisdate"] = f"{y:04d}-{m:02d}-{d:02d}"
    raw = rng.choice(["L", "R", "B", "9"])
    tumour["laterality"] = {"L": "LEFT", "R": "RIGHT", "B": "BILATERAL"}.get(raw, raw)
    cells.append(raw)
    st = rng.randrange(6)
    if st < 5:
        raw = rng.choice(["Stage ", "STAGE", "stage "]) + str(st)
        tumour["stage"] = str(st)
    else:
        raw = "unknown"
    cells.append(raw)
    g = str(rng.randrange(1, 4))
    cells.append(f"Grade {g}" if rng.random() < 0.5 else g)
    tumour["grade"] = g
    line = ",".join(cells)
    return line, [("Patient", patient, lineno), ("Tumour", tumour, lineno)]


def _report(rng, ordinal):
    """One multi-line report and its expected record."""
    fields = {}
    rid = f"{rng.randrange(10 ** 8):08d}"
    fields["reportid"] = rid
    nhs_raw, nhs = _nhs(rng)
    if _blank(rng):
        nhs_raw = ""
    else:
        fields["nhsnumber"] = nhs
    y, m, d = _date(rng, 2005, 2024)
    fields["reportdate"] = f"{y:04d}-{m:02d}-{d:02d}"
    icd_raw, icd = _icd(rng, [",", ", ", ";", " "])
    fields["icd"] = icd
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(4, 14)))
    fields["text"] = text
    lines = [f"REPORT {rid}", f"NHS: {nhs_raw}", f"DATE: {y:04d}-{m:02d}-{d:02d}",
             f"DIAG: {icd_raw}", f"TEXT: {text}  "]
    return "\n".join(lines), [("PathologyReport", fields, ordinal)]


def registry_drop(out_dir, seed, files, rows_per_file):
    """Write ``drop.zip``, ``mapping.yml`` and ``expected.json`` into
    ``out_dir``: ``files`` inner files (half registrations, half reports)
    of ``rows_per_file`` rows or reports each.  Returns the expected dict."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    counts, sums = {}, {}
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        for f in range(files):
            if f % 2 == 0:
                table, name = "registrations", f"registrations_{f:04d}.csv"
                made = [_registration(rng, i + 1) for i in range(rows_per_file)]
                body = "\n".join([",".join(REG_HEADER)] + [text for text, _ in made]) + "\n"
            else:
                table, name = "reports", f"reports_{f:04d}.txt"
                made = [_report(rng, i) for i in range(rows_per_file)]
                body = "\n".join(text for text, _ in made) + "\n"
            for _, recs in made:
                for r in recs:
                    key = f"{table}/{r[0]}"
                    counts[key] = counts.get(key, 0) + 1
                    sums[key] = sums.get(key, 0) + record_hash(*r)
            info = zipfile.ZipInfo(f"drop/{name}", date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body.encode("utf-8"), compresslevel=1)
    with open(os.path.join(out_dir, "drop.zip"), "wb") as fh:
        fh.write(buf.getvalue())
    with open(os.path.join(out_dir, "mapping.yml"), "w") as fh:
        fh.write(MAPPING_YAML)
    expected = {"input_rows": files * rows_per_file, "files": files,
                "records": {k: {"count": counts[k], "checksum": str(sums[k])}
                            for k in sorted(counts)}}
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    if len(sys.argv) != 6 or sys.argv[1] != "registry":
        sys.exit("usage: gen.py registry <dir> <seed> <files> <rows_per_file>")
    print(json.dumps(registry_drop(sys.argv[2], int(sys.argv[3]),
                                   int(sys.argv[4]), int(sys.argv[5])), indent=1))
