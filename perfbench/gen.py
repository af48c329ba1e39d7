"""Seeded FHIR bulk-export generator for the ETL benchmark.

Resources are shaped like ``tests/fhir_fixtures.py`` (nested structs,
arrays of structs, references, attachments, PHI-bearing fields) and are
replicated per patient with shifted ids and seeded dates and codes. Every
PHI-bearing value carries :data:`SENTINEL`, so a read-back of the lake (or
of anything the benchmark prints) can prove that none of it survived.

Alongside the files, the generator returns the *expected state*: for each
resource type the map ``real id -> meta.lastUpdated`` the lake must hold
after the run, and for each type the number of quarantined lines
``run_etl`` must report. The same seed gives byte-identical files and the
same expectations.
"""

from __future__ import annotations

import base64
import binascii
import hashlib
import hmac
import json
import os
import random
import uuid

SENTINEL = "ZQXPHI"
# base64 of SENTINEL: notes start with it, so the encoded attachment
# starts with this token (6 bytes encode to exactly 8 chars).
SENTINEL_B64 = base64.b64encode(SENTINEL.encode()).decode()

TYPES = ("Patient", "Encounter", "Condition", "DocumentReference", "Observation")
PER_PATIENT = {"Patient": 1, "Encounter": 5, "Condition": 3, "DocumentReference": 2, "Observation": 10}
PREFIX = {"Patient": "pat", "Encounter": "enc", "Condition": "con", "DocumentReference": "doc", "Observation": "obs"}
FILES_PER_TYPE = 3
# "Basic" is a real FHIR type with no ETL task: a line of it is someone
# else's input and must be skipped, neither loaded nor quarantined.
FOREIGN_TYPE = "Basic"

SNOMED = ["44054006", "38341003", "195967001", "49436004", "73211009", "13645005"]
LOINC = ["8867-4", "8480-6", "8462-4", "2339-0", "29463-7", "8310-5", "9279-1"]
NOTE_LOINC = ["18842-5", "11506-3", "34117-2"]


def codebook_for(seed: int) -> dict:
    """The codebook.json a run writes before ``run_etl``: a salt derived
    from the seed, so pseudonyms are reproducible and checkable."""
    digest = hashlib.sha256(f"perfbench-salt-{seed}".encode()).hexdigest()
    return {"version": 1, "id": str(uuid.UUID(digest[:32])), "salt": digest}


def anon_id(salt: str, real_id: str) -> str:
    """HMAC-SHA256(salt, id) with the hex salt as key bytes, stdlib only."""
    return hmac.new(binascii.unhexlify(salt), real_id.encode(), hashlib.sha256).hexdigest()


def _ts(day: int, sec: int) -> str:
    """ISO instant ``day`` days after 2021-01-01 (the day may be negative)."""
    import datetime as dt

    t = dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=day, seconds=sec)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


class Patient:
    """One synthetic patient and the ids of all of its resources."""

    def __init__(self, shift: int, index: int):
        self.pid = f"{PREFIX['Patient']}-{shift + index:07d}"
        self.ids = {
            rt: [self.pid] if rt == "Patient" else [f"{PREFIX[rt]}-{shift + index:07d}-{k}" for k in range(n)]
            for rt, n in PER_PATIENT.items()
        }


def _resource(rng: random.Random, p: Patient, rt: str, k: int, updated: str, status: str) -> dict:
    rid = p.ids[rt][k]
    subject = {"reference": f"Patient/{p.pid}"}
    enc = {"reference": f"Encounter/{p.ids['Encounter'][k % PER_PATIENT['Encounter']]}"}
    meta = {"lastUpdated": updated}
    day = rng.randrange(0, 700)
    if rt == "Patient":
        return {
            "resourceType": "Patient", "id": rid, "meta": meta,
            "name": [{"use": "official", "family": f"{SENTINEL}{rng.randrange(10**6)}",
                      "given": [f"{SENTINEL}Given{rng.randrange(1000)}"]}],
            "telecom": [{"system": "phone", "value": f"{SENTINEL}-555-{rng.randrange(10**4):04d}"}],
            "gender": rng.choice(["female", "male", "other"]),
            "birthDate": _ts(-rng.randrange(3000, 30000), 0)[:10],
            "address": [{"line": [f"{SENTINEL} {rng.randrange(999)} Main St"], "city": "Boston",
                         "state": "MA", "postalCode": f"0{rng.randrange(1000, 9999)}"}],
            "extension": [{"url": "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex",
                           "valueCode": rng.choice(["F", "M"])}],
            "active": status == "final",
        }
    if rt == "Encounter":
        return {
            "resourceType": "Encounter", "id": rid, "meta": meta, "status": status,
            "class": {"system": "http://terminology.hl7.org/CodeSystem/v3-ActCode",
                      "code": rng.choice(["AMB", "IMP", "EMER"])},
            "subject": subject,
            "period": {"start": _ts(day, 9 * 3600), "end": _ts(day, 10 * 3600)},
            "reasonCode": [{"coding": [{"system": "http://snomed.info/sct", "code": rng.choice(SNOMED)}]}],
        }
    if rt == "Condition":
        return {
            "resourceType": "Condition", "id": rid, "meta": meta,
            "clinicalStatus": {"coding": [{"code": "active" if status == "final" else status}]},
            "code": {"coding": [{"system": "http://snomed.info/sct", "code": rng.choice(SNOMED)}],
                     "text": "chronic condition"},
            "subject": subject, "encounter": enc, "recordedDate": _ts(day, 3600),
        }
    if rt == "DocumentReference":
        note = f"{SENTINEL} note {rid}: patient reports cough, call {SENTINEL}-555-0100"
        return {
            "resourceType": "DocumentReference", "id": rid, "meta": meta, "status": "current",
            "docStatus": status,
            "type": {"coding": [{"system": "http://loinc.org", "code": rng.choice(NOTE_LOINC)}]},
            "subject": subject, "date": _ts(day, 11 * 3600),
            "context": {"encounter": [enc]},
            "content": [{"attachment": {"contentType": "text/plain",
                                        "data": base64.b64encode(note.encode()).decode()}}],
        }
    obs = {
        "resourceType": "Observation", "id": rid, "meta": meta, "status": status,
        "code": {"coding": [{"system": "http://loinc.org", "code": rng.choice(LOINC)}]},
        "subject": subject, "encounter": enc, "effectiveDateTime": _ts(day, 12 * 3600),
    }
    if k % 5 == 4:
        obs["valueString"] = f"{SENTINEL} free text result"
    else:
        obs["valueQuantity"] = {"value": round(rng.uniform(40, 180), 1), "unit": "bpm"}
    return obs


def _malformed(rng: random.Random, rt: str, n: int) -> str:
    """A line that parses as JSON and names ``rt`` but breaks its schema
    (a singleton object where FHIR requires an array): quarantined by the
    ``rt`` task only."""
    bad_field = {"Patient": "name", "Encounter": "reasonCode", "Condition": "category",
                 "DocumentReference": "content", "Observation": "category"}[rt]
    return json.dumps({"resourceType": rt, "id": f"bad-{rt.lower()}-{n}",
                       bad_field: {"text": f"{SENTINEL} broken {rng.randrange(10**6)}"}})


def _write_export(root: str, rng: random.Random, lines: dict[str, list[str]], extra: list[str],
                  deleted: list[tuple[str, str]]) -> int:
    """Write ``lines`` as several files per type; ``extra`` lines (the
    unparseable and foreign-type ones) land in random files. Returns the
    number of bytes written."""
    os.makedirs(root, exist_ok=True)
    files = []
    for rt in TYPES:
        chunks = [lines[rt][i::FILES_PER_TYPE] for i in range(FILES_PER_TYPE)]
        for i, chunk in enumerate(chunks):
            if chunk:
                files.append((os.path.join(root, f"{rt}.{i:03d}.ndjson"), chunk))
    for line in extra:
        files[rng.randrange(len(files))][1].insert(0, line)
    total = 0
    for path, chunk in files:
        data = "".join(line + "\n" for line in chunk)
        with open(path, "w") as fh:
            fh.write(data)
        total += len(data)
    if deleted:
        bundle = {"resourceType": "Bundle", "type": "history", "entry": [
            {"request": {"method": "DELETE", "url": f"{rt}/{rid}"}} for rt, rid in deleted]}
        data = json.dumps(bundle) + "\n"
        os.makedirs(os.path.join(root, "deleted"), exist_ok=True)
        with open(os.path.join(root, "deleted", "Bundle.000.ndjson"), "w") as fh:
            fh.write(data)
        total += len(data)
    return total


class Export:
    """A generated export plus the state the lake must hold after it."""

    def __init__(self, root: str, bytes_: int, lines: int, expected: dict, quarantined: dict,
                 stale: dict | None = None):
        self.root = root
        self.bytes = bytes_
        self.lines = lines  # resource lines (good, malformed and foreign)
        self.expected = expected  # {rt: {real id: lastUpdated}} after the run
        self.quarantined = quarantined  # {rt: quarantined lines run_etl reports}
        self.stale = stale or {}  # {rt: {real id: lastUpdated of a version that must lose}}


def _finish(root, rng, lines, extra, deleted, expected, bad_per_type, n_unparseable, stale=None) -> Export:
    for rt, rid in deleted:
        expected[rt].pop(rid, None)
    nbytes = _write_export(root, rng, lines, extra, deleted)
    quarantined = {rt: bad_per_type + n_unparseable for rt in TYPES}
    n_lines = sum(len(v) for v in lines.values()) + len(extra)
    return Export(root, nbytes, n_lines, expected, quarantined, stale)


def bootstrap(root: str, seed: int, patients: int) -> Export:
    """The initial bulk export: ``patients`` × 21 resources, two malformed
    lines per type, one unparseable line, one foreign-type line and a
    small ``deleted/`` bundle of tombstones for resources in the export."""
    rng = random.Random(seed)
    shift = rng.randrange(10**6)
    lines: dict[str, list[str]] = {rt: [] for rt in TYPES}
    expected: dict[str, dict[str, str]] = {rt: {} for rt in TYPES}
    for i in range(patients):
        p = Patient(shift, i)
        for rt in TYPES:
            for k in range(PER_PATIENT[rt]):
                updated = _ts(365 + rng.randrange(30), rng.randrange(86400))
                lines[rt].append(json.dumps(_resource(rng, p, rt, k, updated, "final")))
                expected[rt][p.ids[rt][k]] = updated
    bad = 2
    for rt in TYPES:
        for n in range(bad):
            lines[rt].insert(rng.randrange(len(lines[rt]) + 1), _malformed(rng, rt, n))
    extra = ['{"resourceType": "Observation", "id": "trunc', json.dumps(
        {"resourceType": FOREIGN_TYPE, "id": "foreign-1", "code": {"text": f"{SENTINEL} other"}})]
    victims = [(rt, rid) for rt in ("Condition", "Observation") for rid in rng.sample(sorted(expected[rt]), 3)]
    return _finish(root, rng, lines, extra, victims, expected, bad, 1)


def delta(root: str, seed: int, patients: int, base: Export, base_seed: int) -> Export:
    """An incremental export on top of :func:`bootstrap` ``(base_seed, patients)``:
    newer versions of every resource of 1% of patients, 0.5% new
    patients, stale versions (older ``meta.lastUpdated``) of a few
    resources that must lose, 20 tombstones (4 per type) and one
    malformed line per type plus one unparseable line.

    Which patients and resources the delta touches depends on
    ``base_seed`` only, so every ``seed`` rewrites the same lake buckets;
    ``seed`` decides the new versions' contents and dates."""
    rng = random.Random(seed * 7919 + 1)
    pick = random.Random(base_seed * 7919 + 1)
    shift = random.Random(base_seed).randrange(10**6)
    expected = {rt: dict(ids) for rt, ids in base.expected.items()}
    lines: dict[str, list[str]] = {rt: [] for rt in TYPES}
    alive = [i for i in range(patients) if Patient(shift, i).pid in expected["Patient"]]
    picked = pick.sample(alive, max(1, patients // 100) + 8)
    updated_pats, stale_pats = picked[: max(1, patients // 100)], picked[max(1, patients // 100):]
    for i in updated_pats:
        p = Patient(shift, i)
        for rt in TYPES:
            for k, rid in enumerate(p.ids[rt]):
                if rid not in expected[rt]:
                    continue  # tombstoned at bootstrap: a newer version would resurrect it
                updated = _ts(800 + rng.randrange(30), rng.randrange(86400))
                lines[rt].append(json.dumps(_resource(rng, p, rt, k, updated, "amended")))
                expected[rt][rid] = updated
    for j in range(max(1, patients // 200)):
        p = Patient(shift, patients + j)
        for rt in TYPES:
            for k, rid in enumerate(p.ids[rt]):
                updated = _ts(800 + rng.randrange(30), rng.randrange(86400))
                lines[rt].append(json.dumps(_resource(rng, p, rt, k, updated, "final")))
                expected[rt][rid] = updated
    # Stale versions: older lastUpdated than the stored row, so they lose.
    stale: dict[str, dict[str, str]] = {rt: {} for rt in TYPES}
    for i in stale_pats:
        p = Patient(shift, i)
        for rt in ("Patient", "Encounter", "Observation"):
            rid = p.ids[rt][0]
            if rid in expected[rt]:
                updated = _ts(-rng.randrange(1, 300), rng.randrange(86400))
                lines[rt].append(json.dumps(_resource(rng, p, rt, 0, updated, "entered-in-error")))
                stale[rt][rid] = updated
    others = sorted(set(alive) - set(picked))
    victims = [
        (rt, rid) for rt in TYPES
        for rid in pick.sample(sorted(r for i in others for r in Patient(shift, i).ids[rt] if r in expected[rt]), 4)
    ]
    bad = 1
    for rt in TYPES:
        lines[rt].insert(rng.randrange(len(lines[rt]) + 1), _malformed(rng, rt, 100))
    extra = ['{"resourceType": "Patient", "id": "trunc']
    return _finish(root, rng, lines, extra, victims, expected, bad, 1, stale)
