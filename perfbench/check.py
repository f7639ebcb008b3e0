"""Output checks for the pipeline's nine parquet outputs, run in DuckDB.

`check_run` fills in, for each written output of each pass,
an order-independent content hash (row count and sum of row hashes)
and the first invariant it breaks, if any: LinkagePipelineSpec's
invariants at scale (unique encounterId, no unrepaired WW or
encounterId key, stay, cohort and chartevents counts equal the truth
file's) plus the report tables' counts. DuckDB shares no code with the
engine under test.
"""
import duckdb


def connect():
    con = duckdb.connect()
    con.execute("SET threads=4")
    return con


def content_hash(con, path):
    rows, h = con.execute(
        f"SELECT count(*), sum(hash(t)::HUGEINT) FROM read_parquet('{path}/*.parquet') t"
    ).fetchone()
    return f"{rows}:{h}"


def _expect(what, got, want):
    return None if got == want else f"{what}: got {got}, want {want}"


def invariants(con, path, name, t):
    """First broken invariant of output `name` at `path`, or None."""
    src = f"read_parquet('{path}/*.parquet')"

    def one(sql):
        return con.execute(sql.replace("$T", src)).fetchone()

    def mapping(sql):
        return {("null" if k is None else str(k)): v
                for k, v in con.execute(sql.replace("$T", src)).fetchall()}

    if name in ("philips", "icustays", "cohort"):
        rows, distinct = one('SELECT count(*), count(DISTINCT "encounterId") FROM $T')
        want = t["philips" if name == "philips" else name]
        problems = [_expect(f"{name} rows", rows, want),
                    _expect("distinct encounterId", distinct, rows)]
        if name == "philips" and t["bad_encounter_ids"]:
            bad = ",".join(str(b) for b in t["bad_encounter_ids"])
            problems.append(_expect("unrepaired encounterId keys", one(
                f'SELECT count(*) FROM $T WHERE "encounterId" IN ({bad})')[0], 0))
        if name == "icustays" and t["ww"]:
            fixes = ",".join(f"({k},{v})" for k, v in t["ww"].items())
            linked, wrong = one(
                f'SELECT count(*), count(*) FILTER (WHERE "encounterId" <> w.fix) FROM $T '
                f'JOIN (VALUES {fixes}) w(icn, fix) ON "ICNARC number" = w.icn')
            problems += [_expect("WW-listed stays linked", linked, t["ww_linked"]),
                         _expect("unrepaired WW keys", wrong, 0)]
    elif name == "mortality_rates":
        problems = [_expect("mortality rates", mapping(
            'SELECT "icnarc_in_hospital_mortality", cnt FROM $T'), t["mortality_rates"])]
    elif name == "admission_types":
        problems = [_expect("admission types", mapping(
            'SELECT "Admission Type", cnt FROM $T'), t["admission_types"])]
    elif name == "chartevents":
        rows, nulls = one("SELECT count(*), count(*) FILTER (WHERE value_num IS NULL) FROM $T")
        problems = [_expect("chartevents rows", rows, t["chartevents_rows"]),
                    _expect("null value_num", nulls, t["value_num_nulls"]),
                    _expect("rows per variable", mapping(
                        'SELECT "Variable", count(*) FROM $T WHERE "Variable" IS NOT NULL '
                        'GROUP BY 1'), t["per_variable"])]
    elif name == "completeness":
        problems = [_expect("stays per variable", mapping(
            'SELECT "Variable", n_entities FROM $T'), t["per_variable_stays"])]
    elif name == "per_stay_stats":
        problems = [_expect("(stay, variable) pairs", one("SELECT count(*) FROM $T")[0],
                            t["per_stay_pairs"]),
                    _expect("observations per variable", mapping(
                        'SELECT "Variable", sum(n_obs) FROM $T GROUP BY 1'), t["per_variable"])]
    elif name == "freq_moments":
        problems = [_expect("variables", one("SELECT count(*) FROM $T")[0],
                            len(t["per_variable"]))]
    else:
        problems = [f"unknown output {name}"]
    return next((p for p in problems if p), None)


def check_run(con, passes, out, truth, fixture_truth):
    """Fill each written op's `hash` and `check` in place. The first
    pass that writes an output is checked against the invariants; later
    passes must reproduce its hash. Fixture passes are always checked
    against the fixture's truth."""
    verified = {}
    for p in passes:
        fixture = p["kind"] == "fixture"
        for op in p["ops"]:
            if op["error_class"] is not None:
                continue
            path = f"{out}/p{p['index']}/{op['name']}"
            try:
                op["hash"] = content_hash(con, path)
                if fixture or op["name"] not in verified:
                    op["check"] = invariants(con, path, op["name"],
                                             fixture_truth if fixture else truth)
                    if op["check"] is None and not fixture:
                        verified[op["name"]] = op["hash"]
                elif verified[op["name"]] != op["hash"]:
                    op["check"] = (f"content hash {op['hash']} differs from "
                                   f"{verified[op['name']]}")
            except duckdb.Error as e:
                op["check"] = f"check failed: {e}"
