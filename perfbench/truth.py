"""Reference answers for the E1/E2 pipeline, derived from the raw extracts.

A plain-Python re-statement of `cli.LinkagePipeline`'s documented
semantics (key repair, fragment dedup, linkage, CMP join, chartevents
union, cohort right join, labelling). It shares no code with the engine
or with the generator, so the counts it derives are an independent
check on both. `.rpt` footer rows are dropped the way a full-width
parse drops them: a line whose field count is not the header's is not
a record.

On `src/test/resources/domain` it must give LinkagePipelineSpec's
hand-derived counts: 4 stays and 11 chartevents rows.
"""
import csv
import xml.etree.ElementTree as ET
from collections import Counter, defaultdict

STRING_ATTRIBUTE_IDS = {16240, 6847, 6849, 6851, 8590, 34870, 34873, 8584, 3566, 25545}


def _rows(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def _rpt(path, *cols):
    """The named fields of each record of a tab-separated SQL-Server
    export, footer excluded."""
    with open(path) as f:
        header = f.readline().rstrip("\n").split("\t")
        n = len(header)
        idx = [header.index(c) for c in cols]
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) == n:
                yield [parts[i] for i in idx]


def _float(s):
    try:
        return float(s)
    except ValueError:
        return None


def derive(d):
    # ---- E1: ICNARC link table with WW repair
    ww = {}
    for r in _rows(f"{d}/issue_list.ww.csv"):
        k, v = int(r["ICNARC Number"]), int(r["Corrected encID"])
        ww[k] = min(v, ww.get(k, v))
    icnarc = []  # (ICNARC number, encounterId, Unit ID)
    for r in _rows(f"{d}/icnarc_ids.csv"):
        unit = int(r["Unit ID"])
        if unit == 14:
            continue
        icn = int(r["ICNARC number"])
        cis = ww.get(icn, int(r["CIS Patient ID"]) if r["CIS Patient ID"] else None)
        if cis is not None:
            icnarc.append((icn, cis, unit))

    # ---- Philips encounters with encounterId repair, then dedup
    remap = {}
    for r in _rows(f"{d}/issue_list.encounterId.csv"):
        if float(r["clinicalUnitId"]) == 8.0:
            continue
        k, v = int(r["encounterId_CIS"]), int(r["encounterId_Adjusted"])
        remap[k] = min(v, remap.get(k, v))
    stays = set()
    for e, unit in _rpt(f"{d}/encounter_summary.tsv", "encounterId", "clinicalUnitId"):
        if int(unit) == 8:
            continue
        e = int(e)
        stays.add(remap.get(e, e))

    icustays = [(icn, e, unit) for icn, e, unit in icnarc if e in stays]

    # ---- CMP XML: unit recode and mortality / admission type
    cmp = defaultdict(list)
    for _, el in ET.iterparse(f"{d}/icnarc_cmp.xml"):
        if el.tag.rsplit("}", 1)[-1] != "patient":
            continue
        v = {c.tag.rsplit("}", 1)[-1]: c.text for c in el}
        unit = 1 if v.get("N02") == "H91" else 14
        mort = v.get("SU1") or v.get("SH1") or v.get("SN1")
        cmp[(int(v["N01"]), unit)].append((mort, v.get("AT1")))
        el.clear()
    cohort = [(e, m, a) for icn, e, unit in icustays for m, a in cmp.get((icn, unit), [])]
    cohort_ids = Counter(e for e, _, _ in cohort)

    # ---- E2: both EAV extracts, right join on the cohort, labels
    labels = {}
    for r in _rows(f"{d}/interventions_key.csv"):
        labels[(int(r["interventionId"]), int(r["attributeId"]))] = r["Variable"]
    per_stay_events = Counter()
    per_variable = Counter()
    stays_of = defaultdict(set)
    value_nulls = 0
    for name in ("ptassess", "labresults"):
        for e, iv, at, num, txt in _rpt(f"{d}/chartevents.{name}.tsv", "encounterId",
                                        "interventionId", "attributeId", "valueNumber",
                                        "valueString"):
            e = int(e)
            mult = cohort_ids.get(e, 0)
            if not mult:
                continue
            at = int(at)
            value = txt if at in STRING_ATTRIBUTE_IDS else num
            var = labels.get((int(iv), at))
            per_stay_events[e] += mult
            if _float(value) is None:
                value_nulls += mult
            if var is not None:
                per_variable[var] += mult
                stays_of[var].add(e)
    # a cohort stay with no events still yields one all-null row
    empty = sum(m for e, m in cohort_ids.items() if not per_stay_events[e])

    return {
        "philips": len(stays),
        "icustays": len(icustays),
        "cohort": len(cohort),
        "mortality_rates": dict(Counter(str(m) if m else "null" for _, m, _ in cohort)),
        "admission_types": dict(Counter(str(a) if a else "null" for _, _, a in cohort)),
        "chartevents_rows": sum(per_stay_events.values()) + empty,
        "value_num_nulls": value_nulls + empty,
        "per_variable": dict(per_variable),
        "per_variable_stays": {v: len(s) for v, s in stays_of.items()},
        "per_stay_pairs": sum(len(s) for s in stays_of.values()),
        "bad_encounter_ids": sorted(k for k, v in remap.items() if k != v),
        "ww": {str(icn): e for icn, e in ww.items()},
        "ww_linked": sum(1 for icn, _, _ in icustays if icn in ww),
    }
