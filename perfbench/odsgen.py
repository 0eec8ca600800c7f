"""ods_writeback inputs, made from a seed, and the checks of its outputs.

The generator fixes every count beforehand; the seed only changes codes,
names, dates, addresses and row order. What it writes:

- `epraccur/epraccur.zip`, `egpcur/egpcur.zip`: headerless ODS CSVs;
- `store.tsv`: the resources the store holds before the import, one
  `type<TAB>id<TAB>json` line each (Organization, Practitioner,
  PractitionerRole and Task);
- `consultations.json`, `compositions.json`: the `$extract-collection`
  bundles and the EMIS duplicate-probe keys the Task classification joins.

The expected outcome (`expect.json`) never leaves the benchmark: action
counts per import leg, the code every stored resource must carry, and each
Task's branch.
"""
import json
import os
import random
import zipfile

# The counts are chosen so that one round reaches every planned action
# (insert, update and noop on each leg) and every Task branch many times.
# They are not a model of a real ODS refresh: the repository records no
# shares of new or changed rows for one. The sources give only the scale
# of the national files, about 7 000 practices and 50 000 GPs (SURVEY.md),
# 6 to 7 GPs a practice where this workload has 5, and poll sizes of 5
# (the writeback DAG) and 300 Tasks (the NOS workflow).
N_PRACTICES = 600
N_EXISTING_ORGS = 300      # already in the store ...
N_CHANGED_ORGS = 60        # ... of which these have a new postcode
N_GPS = 3000               # each works at one practice
N_EXISTING_GPS = 1500
N_EXISTING_ROLES = 600     # stored roles of existing GPs at existing practices
N_CHANGED_ROLES = 100      # ... of which these have a new start date
# Task branches: polled ones first, then ones the poll must leave alone
TASKS = {"completed": 40, "duplicate": 10, "cancelled": 10, "skipped": 10,
         "done": 10, "old": 10, "runaway": 10}
POLLED = ("completed", "duplicate", "cancelled", "skipped")
WRITTEN = {"completed": "completed", "duplicate": "completed",
           "cancelled": "cancelled"}
CUTOFF = "2025-07-01"
NOW = "2025-08-01T12:00:00+00:00"
KEPT_FIELDS = ("resourceType", "id", "authoredOn", "focus", "meta")

ODS_SYS = "https://fhir.nhs.uk/Id/ods-organization-code"
GMP_SYS = "https://fhir.hl7.org.uk/Id/gmp-number"
ENC_SYS = "https://fhir.virtually.healthcare/Id/Encounter"
DBID_SYS = "https://emis.com/Id/Patient/DBID"

LEGS = ["Organization", "Practitioner", "PractitionerRole"]


def expected_counts():
    """(inserts, updates, noops) per leg, for the import and the re-import."""
    imp = [
        (N_PRACTICES - N_EXISTING_ORGS, N_CHANGED_ORGS,
         N_EXISTING_ORGS - N_CHANGED_ORGS),
        (N_GPS - N_EXISTING_GPS, 0, N_EXISTING_GPS),
        (N_GPS - N_EXISTING_ROLES, N_CHANGED_ROLES,
         N_EXISTING_ROLES - N_CHANGED_ROLES),
    ]
    re = [(0, 0, N_PRACTICES), (0, 0, N_GPS), (0, 0, N_GPS)]
    return imp, re


def _date(rng, lo=1990, hi=2024):
    return f"{rng.randint(lo, hi)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"


def _iso(d):
    return f"{d[:4]}-{d[4:6]}-{d[6:]}" if d else ""


def _csv(fields):
    def q(v):
        return '"' + v.replace('"', '""') + '"' if any(c in v for c in ',"') else v
    return ",".join(q(v) for v in fields) + "\r\n"


def _zip(path, member, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(member, "".join(lines))


def generate(seed, out):
    rng = random.Random(seed)
    letters = "ABCDEFGHJKLMNPRSTUVWXY"
    codes = rng.sample(range(10000, 99999), N_PRACTICES)
    pracs = []
    for i, c in enumerate(codes):
        ods = f"{rng.choice(letters)}{c}"
        pracs.append({
            "ODS": ods,
            "name": f"{rng.choice(['THE', 'HIGH', 'PARK', 'MILL'])} SURGERY {i}",
            "ng": rng.choice(["Y56", "Y58", "Y59", "Y60", ""]),
            "postcode": f"N{rng.randint(1, 99)} {rng.randint(1, 9)}AA",
            "phone": rng.choice(["", f"0{rng.randint(1000000000, 1999999999)}"]),
            "addr": [f"{rng.randint(1, 200)} HIGH STREET", "", "LONDON", ""],
            "closed": rng.choice(["", "", "", _date(rng, 2015, 2024)]),
        })
    gmps = rng.sample(range(1000000, 9999999), N_GPS)
    gps = []
    for i, g in enumerate(gmps):
        ended = rng.choice(["", "", "", _date(rng, 2020, 2024)])
        gps.append({
            "GMP": f"G{g}", "ods": pracs[i % N_PRACTICES]["ODS"],
            "name": f"{rng.choice(['SMITH', 'JONES', 'PATEL', 'OBRIEN', 'KHAN'])}"
                    f"{i} {rng.choice(letters)} {rng.choice(letters)}",
            "started": _date(rng, 1990, 2019), "ended": ended,
            "status": "C" if not ended else rng.choice(["C", "P"]),
        })

    def org_json(p, rid, postcode):
        d = {"resourceType": "Organization", "id": rid,
             "identifier": [{"system": ODS_SYS, "value": p["ODS"]}],
             "active": not p["closed"], "name": p["name"]}
        if p["ng"]:
            d["partOf"] = {"identifier": {"system": ODS_SYS, "value": p["ng"]}}
        if p["phone"]:
            d["telecom"] = [{"system": "phone", "value": p["phone"], "use": "work"}]
        d["address"] = [{"postalCode": postcode, "line": [p["addr"][0]]}]
        return d

    store = []      # (type, id, json)
    ids = {}        # code -> stored id
    for i, p in enumerate(pracs[:N_EXISTING_ORGS]):
        rid = f"org-{i}"
        ids[p["ODS"]] = rid
        pc = p["postcode"] if i >= N_CHANGED_ORGS else "ZZ9 9ZZ"
        store.append(("Organization", rid, org_json(p, rid, pc)))
    for i, g in enumerate(gps[:N_EXISTING_GPS]):
        rid = f"gp-{i}"
        ids[g["GMP"]] = rid
        family = g["name"].split()[0]
        store.append(("Practitioner", rid, {
            "resourceType": "Practitioner", "id": rid,
            "identifier": [{"system": GMP_SYS, "value": g["GMP"]}],
            "active": g["status"] == "C",
            "name": [{"family": family, "prefix": ["Dr"],
                      "given": g["name"].split()[1:]}]}))
    stored_roles = [g for g in gps[:N_EXISTING_GPS] if g["ods"] in ids]
    for i, g in enumerate(stored_roles[:N_EXISTING_ROLES]):
        rid = f"role-{i}"
        start = _iso(g["started"]) if i >= N_CHANGED_ROLES else "1980-01-01"
        period = {"start": start}
        if g["ended"]:
            period["end"] = _iso(g["ended"])
        store.append(("PractitionerRole", rid, {
            "resourceType": "PractitionerRole", "id": rid,
            "active": not g["ended"],
            "practitioner": {"identifier": {"system": GMP_SYS, "value": g["GMP"]},
                             "reference": f"Practitioner/{ids[g['GMP']]}"},
            "organization": {"identifier": {"system": ODS_SYS, "value": g["ods"]},
                             "reference": f"Organization/{ids[g['ods']]}"},
            "period": period}))

    # Tasks, consultations and EMIS compositions
    tasks, consultations, compositions, branch = [], [], [], {}
    n = 0
    for b, count in TASKS.items():
        for _ in range(count):
            n += 1
            tid = f"task-{rng.randint(0, 1 << 40):x}-{n}"
            enc = f"enc-{n}-{rng.randint(0, 1 << 30)}"
            authored = f"2025-07-{rng.randint(2, 28):02d}T{rng.randint(0, 23):02d}:" \
                       f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
            version = str(rng.randint(1, 99))
            status = "accepted"
            if b == "skipped":
                version = str(rng.randint(101, 1000))
            elif b == "runaway":
                version = str(rng.randint(1001, 5000))
            elif b == "done":
                status = "completed"
            elif b == "old":
                authored = f"2025-06-{rng.randint(1, 28):02d}T10:00:00"
            t = {"resourceType": "Task", "id": tid, "status": status,
                 "authoredOn": authored, "meta": {"versionId": version},
                 "focus": {"identifier": {"system": ENC_SYS, "value": enc}}}
            if rng.random() < 0.5:
                t["note"] = [{"time": "2025-07-01T00:00:00+00:00", "text": "created"}]
            tasks.append(t)
            branch[tid] = b
            if b != "cancelled":
                patient = f"pat-{n}"
                consultations.append({
                    "encounterSystem": ENC_SYS, "encounterValue": enc,
                    "bundleJson": json.dumps(_bundle(patient, enc))})
                if b == "duplicate":
                    compositions.append({"patientId": patient, "encounterId": enc})
    rng.shuffle(tasks)
    store += [("Task", t["id"], t) for t in tasks]

    os.makedirs(out, exist_ok=True)
    order = list(range(N_PRACTICES))
    rng.shuffle(order)
    _zip(os.path.join(out, "epraccur", "epraccur.zip"), "epraccur.csv", [
        _csv([p["ODS"], p["name"], p["ng"], "", *p["addr"], "", p["postcode"],
              _date(rng, 1970, 2010), p["closed"], "", "", p["ODS"], "", "",
              p["phone"], "", "", "", "", "", "", "", ""])
        for p in (pracs[i] for i in order)])
    order = list(range(N_GPS))
    rng.shuffle(order)
    _zip(os.path.join(out, "egpcur", "egpcur.zip"), "egpcur.csv", [
        _csv([g["GMP"], g["name"], "", "", "1 HIGH STREET", "", "", "", "",
              "N1 1AA", g["started"], g["ended"], g["status"], "", g["ods"],
              "", "", "", "", "", "", "", "", "", "", ""])
        for g in (gps[i] for i in order)])
    with open(os.path.join(out, "store.tsv"), "w") as f:
        for rt, rid, d in store:
            f.write(f"{rt}\t{rid}\t{json.dumps(d, separators=(',', ':'))}\n")
    for name, rows in (("consultations.json", consultations),
                       ("compositions.json", compositions)):
        with open(os.path.join(out, name), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)

    imp, re = expected_counts()
    expect = {
        "import": imp, "reimport": re,
        "orgs": {p["ODS"]: {"postcode": p["postcode"], "active": not p["closed"]}
                 for p in pracs},
        "gps": {g["GMP"]: g["ods"] for g in gps},
        "tasks": {t["id"]: {"branch": branch[t["id"]],
                            "json": json.dumps(t, separators=(",", ":"))}
                  for t in tasks},
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return {"cutoff": CUTOFF, "poll-count": str(sum(TASKS[b] for b in POLLED)),
            "now": NOW}


def _bundle(patient, enc):
    return {"resourceType": "Bundle", "entry": [
        {"fullUrl": "urn:p", "resource": {
            "resourceType": "Patient",
            "identifier": [{"system": DBID_SYS, "value": patient}]}},
        {"fullUrl": "urn:e", "resource": {
            "resourceType": "Encounter",
            "identifier": [{"system": ENC_SYS, "value": enc}]}},
        {"fullUrl": "urn:q", "resource": {
            "resourceType": "QuestionnaireResponse",
            "item": [{"linkId": "q", "answer": [{"valueString": "a"}]}]}}]}


def check(record, store_lines, expect):
    """Compare a run's rounds and final store with the generator's
    expectations. Returns (correct, failed, errors): `failed` counts the
    measured rounds' Task PUTs that dropped fields (the known writeback
    fault); anything else that differs makes the run incorrect."""
    errors, failed = [], 0
    imp = [list(c) for c in expect["import"]]
    re = [list(c) for c in expect["reimport"]]
    want_written = sum(1 for t in expect["tasks"].values() if t["branch"] in WRITTEN)
    for k, r in enumerate(record["rounds"]):
        tag = f"round {k}"
        for leg, got, want in zip(LEGS, r["import"], imp):
            if list(got) != want:
                errors.append(f"{tag} import {leg}: planned {got}, expected {want}")
        if r["measured"] and len(r["reimport"]) != len(re):
            errors.append(f"{tag}: no re-import")
        for leg, got, want in zip(LEGS, r["reimport"], re):
            if list(got) != want:
                errors.append(f"{tag} re-import {leg}: planned {got}, expected {want}")
        if r["written"] != want_written:
            errors.append(f"{tag}: wrote {r['written']} Tasks, expected {want_written}")
        tasks = r["tasks"]
        if set(tasks) != set(expect["tasks"]):
            errors.append(f"{tag}: the store's Task ids differ from the seeded ones")
            continue
        for tid, t in expect["tasks"].items():
            got = json.loads(tasks[tid])
            if t["branch"] in WRITTEN:
                if got.get("status") != WRITTEN[t["branch"]]:
                    errors.append(f"{tag} Task {tid} ({t['branch']}): status "
                                  f"{got.get('status')!r}, expected "
                                  f"{WRITTEN[t['branch']]!r}")
                before = json.loads(t["json"])
                if r["measured"] and any(f in before and f not in got for f in KEPT_FIELDS):
                    failed += 1
            elif tasks[tid] != t["json"] and json.loads(tasks[tid]) != json.loads(t["json"]):
                errors.append(f"{tag} Task {tid} ({t['branch']}) changed but was not due")
    errors += _check_store(store_lines, expect)
    return not errors, failed, errors


def _check_store(lines, expect):
    errors = []
    by_type = {"Organization": {}, "Practitioner": {}, "PractitionerRole": {}}
    for line in lines:
        key, js = line.rstrip("\n").split("\t", 1)
        rt, rid = key.split("/", 1)
        if rt in by_type:
            by_type[rt][rid] = json.loads(js)
    orgs, gps = expect["orgs"], expect["gps"]

    def code(d):
        return (d.get("identifier") or [{}])[0].get("value")

    org_ids = {}
    for rid, d in by_type["Organization"].items():
        c = code(d)
        if c not in orgs or c in org_ids:
            errors.append(f"Organization/{rid}: unexpected or repeated code {c!r}")
            continue
        org_ids[c] = rid
        pc = (d.get("address") or [{}])[0].get("postalCode")
        if pc != orgs[c]["postcode"] or d.get("active") != orgs[c]["active"]:
            errors.append(f"Organization {c}: postcode/active not as in the CSV")
    if set(org_ids) != set(orgs):
        errors.append(f"{len(set(orgs) - set(org_ids))} practices have no Organization")
    gp_ids = {}
    for rid, d in by_type["Practitioner"].items():
        c = code(d)
        if c not in gps or c in gp_ids:
            errors.append(f"Practitioner/{rid}: unexpected or repeated code {c!r}")
            continue
        gp_ids[c] = rid
    if set(gp_ids) != set(gps):
        errors.append(f"{len(set(gps) - set(gp_ids))} GPs have no Practitioner")
    seen = set()
    for rid, d in by_type["PractitionerRole"].items():
        g = d.get("practitioner", {}).get("identifier", {}).get("value")
        o = d.get("organization", {}).get("identifier", {}).get("value")
        if gps.get(g) != o or (g, o) in seen:
            errors.append(f"PractitionerRole/{rid}: unexpected or repeated ({g}, {o})")
            continue
        seen.add((g, o))
        refs = (d["practitioner"].get("reference"), d["organization"].get("reference"))
        if refs != (f"Practitioner/{gp_ids.get(g)}", f"Organization/{org_ids.get(o)}"):
            errors.append(f"PractitionerRole/{rid}: references {refs} do not "
                          f"point at the stored {g} and {o}")
    if len(seen) != len(gps):
        errors.append(f"{len(gps) - len(seen)} GPs have no PractitionerRole")
    return errors[:20]
