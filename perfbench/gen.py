"""Deterministic generator for the nine ICU linkage extracts `cli.Pipeline` reads.

`generate(out, seed, stays, events)` writes, from one numpy seed, the same
file set as `src/test/resources/domain`: the ICNARC link table and WW
issue list (CSV), the Philips encounter summary (SQL-Server `.rpt` TSV
with its export footer), the encounterId issue list, the CMP XML export
and its code dictionary, the interventions key, and the two chartevents
EAV extracts (both `.rpt` TSV with the footer).

Injected in fixed shares, so key repair and dedup do real work:
  - cardiac-unit stays (Philips unit 8, ICNARC unit 14), filtered out;
  - ICNARC rows with no CIS id, dropped;
  - WW key errors: a wrong CIS id, repaired through `issue_list.ww.csv`;
  - encounterId remaps: one fragment carries a bogus id that
    `issue_list.encounterId.csv` maps back to the stay;
  - split stays: two or three consecutive fragments per stay;
  - string-valued EAV attributes and junk string values.
Every CMP code appears in at least one record (the XML schema is taken
from the data, so an absent code would be an absent column).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv

FOOTER = "\n({n} rows affected)\nCompletion time: 2019-05-20T11:02:13\n"

CMP_CODES = [
    ("N01", "ICNARC Number"), ("N02", "ICNARC CMP Number"), ("S01", "Sex"),
    ("D01", "Date of Birth"), ("H01", "Height in cm"), ("W01", "Weight in kg"),
    ("DA1", "Date of admission to your unit"),
    ("TA1", "Time of admission to your unit"),
    ("DD1", "Date of discharge from your unit"),
    ("TD1", "Time of discharge from your unit"),
    ("DR1", "Date fully ready for discharge"),
    ("TR1", "Time fully ready for discharge"),
    ("DB1", "Date of body removed"), ("TB1", "Time of body removed"),
    ("SU1", "Status at ultimate discharge from hospital"),
    ("SH1", "Status at discharge from your hospital"),
    ("SN1", "Status at discharge from your unit"),
    ("PR1", "Primary reason for admission to your unit"),
    ("AT1", "Admission Type"), ("RD1", "Reason for discharge from your unit"),
]

# (Variable, interventionId, attributeId, extract, string-valued, hours
# between flowsheet observations). String-valued attribute ids are from
# `LinkagePipeline.stringAttributeIds`.
VARIABLES = [
    ("Heart Rate", 7001, 9001, "ptassess", False, 1),
    ("Non-Invasive BP Mean", 7002, 9002, "ptassess", False, 1),
    ("Non-Invasive BP Mean", 7003, 9002, "ptassess", False, 4),
    ("FiO2", 7004, 9003, "ptassess", False, 2),
    ("Temperature", 7005, 9004, "ptassess", False, 2),
    ("Respiratory Rate", 7008, 9005, "ptassess", False, 1),
    ("SpO2", 7009, 9006, "ptassess", False, 1),
    ("GCS Total", 7010, 6847, "ptassess", True, 4),
    ("Creatinine", 7006, 16240, "labresults", True, 12),
    ("Lactate", 7007, 8590, "labresults", True, 6),
    ("Potassium", 7011, 8584, "labresults", True, 12),
    ("Sodium", 7012, 3566, "labresults", True, 12),
]
# Charted but absent from the interventions key: its rows keep a null Variable.
UNKEYED = (7099, 9999, "ptassess", False, 4)

EV_COLS = ["encounterId", "chartTime", "storeTime", "interventionId",
           "attributeId", "valueNumber", "valueString", "clinicalUnitId"]
ENC_COLS = ["encounterId", "ptCensusId", "age", "inTime", "outTime", "tNumber",
            "lengthOfStay (mins)", "gender", "clinicalUnitId"]

SHARE_CARDIAC = 0.03
SHARE_NO_CIS = 0.01
SHARE_WW = 0.02
SHARE_REMAP = 0.02
SHARE_SPLIT2 = 0.22
SHARE_SPLIT3 = 0.04
SHARE_JUNK = 0.03
BASE = np.datetime64("2016-01-01T00:00:00", "s")


def _ts(seconds):
    """`yyyy-MM-dd HH:mm:ss` strings, seconds after BASE."""
    return pa.array((BASE + seconds.astype("timedelta64[s]")).astype("datetime64[s]")) \
        .cast(pa.string())


def _write_rpt(path, cols, table):
    """TSV body through Arrow's writer, then the ICCA export footer."""
    with open(path, "wb") as f:
        f.write(("\t".join(cols) + "\n").encode())
        pcsv.write_csv(table, f, pcsv.WriteOptions(
            include_header=False, delimiter="\t", quoting_style="none"))
        f.write(FOOTER.format(n=table.num_rows).encode())


def _write_csv(path, header, rows):
    with open(path, "w") as f:
        f.write(header + "\n")
        for r in rows:
            f.write(",".join("" if v is None else str(v) for v in r) + "\n")


def generate(out, seed, stays, events):
    """`events` is "sparse" (0-10 rows per stay) or "dense" (flowsheet
    cadence from VARIABLES over the whole stay)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = stays
    i = np.arange(n)
    enc = 100000 + i
    icnarc_no = 300000 + i
    cardiac = rng.random(n) < SHARE_CARDIAC
    u = rng.random(n)
    no_cis = (u < SHARE_NO_CIS) & ~cardiac
    ww = (u >= SHARE_NO_CIS) & (u < SHARE_NO_CIS + SHARE_WW) & ~cardiac
    remap = (rng.random(n) < SHARE_REMAP) & ~cardiac
    s = rng.random(n)
    nfrag = np.where(s < SHARE_SPLIT3, 3, np.where(s < SHARE_SPLIT3 + SHARE_SPLIT2, 2, 1))
    nfrag = np.where(remap, np.maximum(nfrag, 2), nfrag)

    # stay timeline: admissions spread over three years, 6 h to 10 days
    t_in = rng.integers(0, 3 * 365 * 86400, n) // 60 * 60
    los_min = rng.integers(6 * 60, 10 * 24 * 60, n)
    t_out = t_in + los_min * 60
    age = rng.integers(18, 96, n)
    gender = rng.choice(np.array(["Male", "Female", ""]), n, p=[0.52, 0.44, 0.04])

    # ---- Philips encounter summary: one row per fragment
    fs = np.repeat(i, nfrag)
    k = np.concatenate([np.arange(m) for m in nfrag]) if n else np.zeros(0, int)
    nf = nfrag[fs]
    f_in = t_in[fs] + (los_min[fs] * 60 * k // nf) // 60 * 60
    f_out = t_in[fs] + (los_min[fs] * 60 * (k + 1) // nf) // 60 * 60
    f_out = np.where(k + 1 == nf, t_out[fs], f_out)
    f_enc = np.where(remap[fs] & (k == 1), 800000 + fs, enc[fs])
    f_unit = np.where(cardiac[fs], 8, 5)
    order = rng.permutation(len(fs))
    enc_tab = pa.table({
        "encounterId": f_enc[order],
        "ptCensusId": 5000000 + order,
        "age": age[fs][order],
        "inTime": _ts(f_in[order]),
        "outTime": _ts(f_out[order]),
        "tNumber": pa.array(np.char.add("T", (enc[fs][order]).astype(str))),
        "lengthOfStay (mins)": pa.array(((f_out - f_in) // 60).astype(np.float64)[order]),
        "gender": pa.array(gender[fs][order]),
        "clinicalUnitId": f_unit[order],
    })
    _write_rpt(f"{out}/encounter_summary.tsv", ENC_COLS, enc_tab)

    # ---- issue lists
    rem = np.nonzero(remap)[0]
    enc_issues = [(800000 + j, 100000 + j, "5.0", "Merged duplicate record") for j in rem]
    enc_issues += [(880000 + j, 880500 + j, "8.0", "Cardiac unit issue") for j in range(3)]
    _write_csv(f"{out}/issue_list.encounterId.csv",
               "encounterId_CIS,encounterId_Adjusted,clinicalUnitId,Explanation", enc_issues)
    _write_csv(f"{out}/issue_list.ww.csv", "ICNARC Number,Corrected encID,Unit ID",
               [(300000 + j, 100000 + j, 1) for j in np.nonzero(ww)[0]])

    # ---- ICNARC link table
    cis = np.where(ww, 900000 + i, enc).astype(object)
    cis[no_cis] = None
    readm = np.where(rng.random(n) < 0.05, "Yes", "")
    ids_rows = [(icnarc_no[j], cis[j], 400000 + j, 14 if cardiac[j] else 1, f"K{j}",
                 readm[j]) for j in rng.permutation(n)]
    _write_csv(f"{out}/icnarc_ids.csv", "ICNARC number,CIS Patient ID,CIS Episode ID,"
               "Unit ID,Key,Readmission during this hospital stay", ids_rows)

    # ---- CMP XML + dictionary
    _write_csv(f"{out}/cmp_dictionary.csv", "CODE,Description", CMP_CODES)
    dob = t_in - (age * 365.25 * 86400).astype(np.int64) - rng.integers(0, 300, n) * 86400
    died = rng.random(n) < 0.12
    has_hw = rng.random(n) >= 0.1
    mort = rng.random(n)
    ready = rng.random(n) < 0.5
    sex = rng.choice(np.array(["M", "F"]), n)
    reason = rng.integers(1, 10, (n, 3))
    adm = rng.choice(np.array(["L", "U", "S", "P"]), n)
    disc = rng.choice(np.array(["N", "M", "C", "R"]), n)
    d_in = np.asarray(_ts(t_in)).astype(str)
    d_out = np.asarray(_ts(t_out)).astype(str)
    d_dob = np.asarray(_ts(dob)).astype(str)
    height = rng.integers(150, 200, n)
    weight = rng.integers(45, 140, n)
    with open(f"{out}/icnarc_cmp.xml", "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<CMP xmlns="http://example.org/cmp">\n')
        for j in rng.permutation(n):
            everything = j == 0  # one record carries every code
            e = [f"<N01>{icnarc_no[j]}</N01>", f"<N02>{'C14' if cardiac[j] else 'H91'}</N02>",
                 f"<S01>{sex[j]}</S01>", f"<D01>{d_dob[j][:10]}</D01>"]
            if has_hw[j] or everything:
                e.append(f"<H01>{height[j]}</H01><W01>{weight[j]}</W01>")
            e.append(f"<DA1>{d_in[j][:10]}</DA1><TA1>{d_in[j][11:]}</TA1>")
            if not died[j] or everything:
                e.append(f"<DD1>{d_out[j][:10]}</DD1><TD1>{d_out[j][11:]}</TD1>")
            if died[j] or everything:
                e.append(f"<DB1>{d_out[j][:10]}</DB1><TB1>{d_out[j][11:]}</TB1>")
            if ready[j] or everything:
                e.append(f"<DR1>{d_out[j][:10]}</DR1><TR1>00:00:00</TR1>")
            status = "D" if died[j] else "A"
            if mort[j] < 0.6 or everything:
                e.append(f"<SU1>{status}</SU1>")
            if 0.6 <= mort[j] < 0.8 or everything:
                e.append(f"<SH1>{status}</SH1>")
            if 0.8 <= mort[j] < 0.9 or everything:
                e.append(f"<SN1>{status}</SN1>")
            e.append(f"<PR1>{reason[j, 0]}.{reason[j, 1]}.{reason[j, 2]}</PR1>"
                     f"<AT1>{adm[j]}</AT1><RD1>{disc[j]}</RD1>")
            f.write("  <patient>" + "".join(e) + "</patient>\n")
        f.write("</CMP>\n")

    # ---- interventions key
    _write_csv(f"{out}/interventions_key.csv",
               "Variable,Intervention name (longLabel),interventionId,"
               "Attribute name (shortLabel),attributeId,Back end location (ICCA table),"
               "Frontend Source",
               [(v, f"{v} charted", iv, f"A{at}", at,
                 "PtLabResult" if ex == "labresults" else "PtAssessment",
                 "lab" if ex == "labresults" else "flowsheet")
                for v, iv, at, ex, _, _ in VARIABLES])

    # ---- chartevents: rows for every non-cardiac stay's true encounterId
    specs = [(iv, at, ex, st, h) for _, iv, at, ex, st, h in VARIABLES] + [UNKEYED]
    ev_stay, ev_spec, ev_t = [], [], []
    if events == "sparse":
        cnt = rng.integers(0, 11, n)
        ev_stay = np.repeat(i, cnt)
        ev_spec = rng.integers(0, len(specs), len(ev_stay))
        ev_t = t_in[ev_stay] + (rng.random(len(ev_stay)) * los_min[ev_stay]).astype(np.int64) * 60
    else:
        parts_s, parts_v, parts_t = [], [], []
        for si, (_, _, _, _, h) in enumerate(specs):
            per = los_min // (60 * h) + 1
            st = np.repeat(i, per)
            step = np.concatenate([np.arange(m) for m in per])
            parts_s.append(st)
            parts_v.append(np.full(len(st), si))
            parts_t.append(t_in[st] + step * 3600 * h + rng.integers(0, 600, len(st)))
        ev_stay = np.concatenate(parts_s)
        ev_spec = np.concatenate(parts_v)
        ev_t = np.concatenate(parts_t)
    ev_iv = np.array([s[0] for s in specs])[ev_spec]
    ev_at = np.array([s[1] for s in specs])[ev_spec]
    ev_ex = np.array([s[2] == "labresults" for s in specs])[ev_spec]
    ev_str = np.array([s[3] for s in specs])[ev_spec]
    m = len(ev_stay)
    num = np.round(rng.normal(80.0, 20.0, m), 1)
    junk = rng.random(m) < SHARE_JUNK
    sval = np.where(junk, np.where(rng.random(m) < 0.5, "unrecordable", "see notes"),
                    np.round(np.abs(num) / 20.0, 1).astype(str))
    keep = ~cardiac[ev_stay]
    for name, sel in (("ptassess", keep & ~ev_ex), ("labresults", keep & ev_ex)):
        idx = np.nonzero(sel)[0]
        idx = idx[rng.permutation(len(idx))]
        t = ev_t[idx]
        is_str = ev_str[idx]
        tab = pa.table({
            "encounterId": enc[ev_stay[idx]],
            "chartTime": _ts(t),
            "storeTime": _ts(t + rng.integers(30, 3600, len(idx))),
            "interventionId": ev_iv[idx],
            "attributeId": ev_at[idx],
            "valueNumber": pa.array(num[idx], mask=is_str),
            "valueString": pa.array(sval[idx], mask=~is_str),
            "clinicalUnitId": np.full(len(idx), 5),
        })
        _write_rpt(f"{out}/chartevents.{name}.tsv", EV_COLS, tab)
