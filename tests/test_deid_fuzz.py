"""PHI-canary fuzz: plant a canary string in every non-allow-listed
position a schema permits; assert the scrubbed output never contains it.

This is the de-id engine's core safety property, stated adversarially:
whatever the allow-list misses must be ABSENT, not just transformed.
Seeded random generation over the real contractual schemas (depth-wise:
structs, arrays of structs, deep leaves).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cumulus_etl_spark.deid import Scrubber
from cumulus_etl_spark.deid.rules import NODE_RULES, resolve_node
from cumulus_etl_spark.schemas import schema_for
from cumulus_etl_spark.sources import scan_resources
from tests.fhir_fixtures import write_ndjson

CANARY = "PHI-CANARY-8f3a"

# leaf actions that legitimately pass string content through (possibly
# transformed); canaries planted ONLY where the rules say drop/mask.
# "check-system;X" gates on the sibling system value but otherwise acts
# like X, so it passes through iff X does.
_PASSTHROUGH_ACTIONS = {"val", "philter", "year", "zip", "anon-id", "anon-ref"}


def _passes_through(spec) -> bool:
    if not isinstance(spec, str):
        return False
    if spec.startswith("check-system;"):
        spec = spec.split(";", 1)[1]
    return spec in _PASSTHROUGH_ACTIONS


def _plant(dtype, rules: dict | None, rng: random.Random, depth=0):
    """Build a value for dtype, planting canaries at every position the
    rules do NOT allow through."""
    from pyspark.sql.types import ArrayType, StringType, StructType

    if isinstance(dtype, StructType):
        out = {}
        for sf in dtype.fields:
            if sf.name == "modifierExtension":
                # a canary here vetoes the whole row (right outcome, tested
                # separately) — skip so leaf coverage isn't hidden, at any
                # depth (backbone elements carry modifierExtension too)
                continue
            spec = (rules or {}).get(sf.name)
            if isinstance(sf.dataType, (StructType, ArrayType)):
                child_rules = None
                if spec == "Contained":
                    # contained elements keep the base-Resource surface
                    # (resourceType/id/meta/…) regardless of element type;
                    # branch-specific fields only survive when resourceType
                    # matches a keeper, which the planted "ok-value" never
                    # does — so Resource is the allow-through set to avoid
                    # planting canaries on
                    child_rules = resolve_node("Resource")
                elif isinstance(spec, str) and spec[:1].isupper() and spec in set(NODE_RULES) | {"CC", "Ref"}:
                    child_rules = resolve_node(spec)
                elif isinstance(spec, dict):
                    child_rules = {**resolve_node("BackboneElement"), **spec}
                val = _plant(sf.dataType, child_rules, rng, depth + 1)
                if val is not None:
                    out[sf.name] = val
            elif isinstance(sf.dataType, StringType):
                if _passes_through(spec):
                    out[sf.name] = rng.choice(["ok-value", "2021-01-01", "12345"])
                else:
                    # not allowed or masked → canary MUST never survive
                    out[sf.name] = CANARY
        return out or None
    if isinstance(dtype, ArrayType):
        inner = _plant(dtype.elementType, rules, rng, depth + 1)
        return [inner] if inner is not None else None
    return None


def test_canaries_never_survive_scrub(spark, tmp_path):
    rng = random.Random(99)
    resources = []
    for i, rt in enumerate(["Patient", "Encounter", "Condition", "Observation",
                            "DocumentReference", "MedicationRequest", "Procedure"]):
        row = _plant(schema_for(rt), resolve_node(rt), rng) or {}
        row["resourceType"] = rt
        row["id"] = f"r{i}"
        # modifierExtension canary would veto the whole row — that's the
        # right outcome but hides leaf coverage; drop it for this test
        row.pop("modifierExtension", None)
        resources.append(row)
    write_ndjson(str(tmp_path), "fuzz.ndjson", resources)

    for rt in {r["resourceType"] for r in resources}:
        df = scan_resources(spark, str(tmp_path), [rt])
        out = Scrubber(salt="fz").scrub(df, rt)
        payload = "\n".join(
            r["j"] for r in out.select(F.to_json(F.struct("*")).alias("j")).collect()
        )
        assert CANARY not in payload, f"canary leaked through {rt} scrub"
        assert payload  # sanity: rows actually survived


PHI_SAMPLES = {
    # class → snippets that MUST be (at least partially) redacted
    "phone": ["call (617) 555-1234 now", "cell 617-555-1234", "tel 617.555.1234",
              "+1 617 555 1234 after 5"],
    "ssn": ["SSN 123-45-6789 on file", "ss# 123 45 6789"],
    "email": ["contact jdoe@example.com", "sent to nurse.jane+x@hospital.org"],
    "url": ["see https://portal.example.com/visit/9 for results"],
    "mrn": ["MRN: 12345678", "mrn 4419872", "Account #: 99887766",
            "accession # S12-4455667", "medical record number 445566"],
    "digit_run": ["id 123456 assigned", "confirmation 987654321"],
    "mixed_id": ["specimen AB123456 processed", "unit XY99887 stored"],
    "address": ["lives at 123 Main Street", "45 Oak Ave Apt 3B",
                "sent to 9 Winding Hollow Drive, Suite 200"],
    "city_state_zip": ["resides in Boston, MA 02115", "moved to San Jose, CA 95110-1234"],
    "age": ["patient is 87 years old", "a 92 yo male", "age 95 presents"],
    "name": ["seen by Dr. Gregory House", "per Mrs Smith", "Mr. O'Brien reports"],
    "pager": ["page me, pager 54321", "beeper # 4312"],
    # person names without salutation: pair / credential / trigger-context
    "name_pair": ["spoke with John Smith today", "Maria Garcia denies pain",
                  "followed by Jennifer Lopez", "Zyx Smith transferred"],
    "name_credential": ["signed by Robert Johnson, MD", "Chen, RN at bedside",
                        "per Lee Tran, N.P."],
    "name_context": ["patient: Keyshawn Vex arrived", "daughter Emily at bedside",
                     "seen by Attending Zorblatt"],
    "name_last_first": ["chart for Smith, John reviewed", "Garcia, Maria follow-up",
                        "Nguyen, Kim, seen in clinic"],
    "name_possessive": ["Smith's pain is improving", "reviewed Emily's labs",
                        "per O'Brien's wife"],
}

SAFE_SAMPLES = [
    # clinical content philter must NOT destroy (dates are kept by design)
    "BP 120/80 mmHg",
    "temperature 98.6 F",
    "metoprolol 25 mg twice daily",
    "follow-up on 2021-03-05",
    "heart rate 72 regular",
    "A1c 7.2 improving",
    "ICD E11.9 type 2 diabetes",
]


def test_philter_recall_by_class(spark):
    """Every philter-lite exclude-rule category we port must actually
    redact its samples (ref deid/philter-config.toml exclude rules), on
    BOTH implementations (Catalyst regexp chain + pandas length-
    preserving), and safe clinical text survives untouched."""
    from cumulus_etl_spark.deid.philter import philter_mask, scrub_text

    rows = [(f"{cls}:{i}", s) for cls, snips in PHI_SAMPLES.items()
            for i, s in enumerate(snips)]
    df = spark.createDataFrame(rows, "k string, text string")
    masked = {r["k"]: r["m"] for r in
              df.select("k", F.expr(philter_mask("`text`")).alias("m")).collect()}
    for cls, snips in PHI_SAMPLES.items():
        for i, s in enumerate(snips):
            jvm = masked[f"{cls}:{i}"]
            assert jvm != s and "***" in jvm, f"[jvm/{cls}] leaked: {s!r} -> {jvm!r}"
            py = scrub_text(s)
            assert py != s and "*" in py, f"[py/{cls}] leaked: {s!r} -> {py!r}"
            assert len(py) == len(s), f"[py/{cls}] not length-preserving: {s!r}"

    safe_df = spark.createDataFrame([(s,) for s in SAFE_SAMPLES], "text string")
    kept = [r["m"] for r in safe_df.select(F.expr(philter_mask("`text`")).alias("m")).collect()]
    assert kept == SAFE_SAMPLES
    assert [scrub_text(s) for s in SAFE_SAMPLES] == SAFE_SAMPLES


def test_contained_keeper_branch_canaries(spark, tmp_path):
    """Plant canaries inside contained resources whose resourceType IS a
    keeper (Medication/Organization/Patient), so the branch-specific
    drop/mask rules apply — the main fuzz test's planter always yields a
    non-keeper type, which only exercises the base-Resource surface."""
    rng = random.Random(7)
    host_rt = "Condition"
    schema = schema_for(host_rt)
    contained_f = next(f for f in schema.fields if f.name == "contained")
    elem = contained_f.dataType.elementType
    rows = []
    for i, crt in enumerate(Scrubber.CONTAINED_TYPES):
        branch_rules = {**resolve_node("Resource"), **resolve_node(crt)}
        planted = _plant(elem, branch_rules, rng) or {}
        planted["resourceType"] = crt
        planted["id"] = f"c{i}"
        planted.pop("modifierExtension", None)  # veto tested separately
        rows.append(
            {"resourceType": host_rt, "id": f"host{i}", "contained": [planted]}
        )
    write_ndjson(str(tmp_path), "contained.ndjson", rows)
    df = scan_resources(spark, str(tmp_path), [host_rt])
    out = Scrubber(salt="fz").scrub(df, host_rt)
    payload = "\n".join(
        r["j"] for r in out.select(F.to_json(F.struct("*")).alias("j")).collect()
    )
    assert CANARY not in payload, "canary leaked through a contained keeper branch"
    assert payload  # sanity: rows actually survived


def test_canary_in_modifier_extension_vetoes_row(spark, tmp_path):
    write_ndjson(str(tmp_path), "veto.ndjson", [
        {"resourceType": "Patient", "id": "x",
         "modifierExtension": [{"url": CANARY, "valueString": CANARY}]}
    ])
    df = scan_resources(spark, str(tmp_path), ["Patient"])
    assert Scrubber(salt="fz").scrub(df, "Patient").count() == 0


# bare-name heuristic (r4 ask 8 / r5 verdict ask 9): masked ONLY with the
# opt-in flag; names chosen to be absent from both embedded name lists so
# no other rule fires first.
BARE_NAME_SAMPLES = [
    "spoke with Quorvald Zinthra today",
    "accompanied by Xanthe Brovik",
    "per conversation with Tevrik Oslund yesterday",
]
# precision canaries that must survive even WITH the flag on
BARE_NAME_SAFE = [
    "history of Parkinson Disease noted",       # eponym: safe second token
    "Down syndrome confirmed by karyotype",      # lowercase second — no match
    "Parkinson's disease is stable",             # possessive+lowercase
    "admitted to Massachusetts General Hospital",
    "transferred from Boston Medical Center",
    "followed at Mayo Clinic since then",        # institutional second token
    "seen on Tuesday Morning rounds was fine",   # day-name first token
    "Blood Pressure was stable",                 # sentence-initial bigram
]


def test_philter_bare_name_flag(spark):
    """With philter_bare_names on, unlisted Title-case bigrams mid-sentence
    are masked (new recall class); the eponym/institution canaries and
    sentence-initial bigrams survive (person-name-derived institutions
    like 'Dana Farber' are a documented false positive — they are
    indistinguishable from name pairs without an entity list); with the flag OFF nothing changes —
    zero precision regressions by construction."""
    from cumulus_etl_spark.deid.philter import philter_mask, scrub_text

    rows = [(f"phi:{i}", s) for i, s in enumerate(BARE_NAME_SAMPLES)] + [
        (f"safe:{i}", s) for i, s in enumerate(BARE_NAME_SAFE)
    ]
    df = spark.createDataFrame(rows, "k string, text string")
    on = {r["k"]: r["m"] for r in df.select(
        "k", F.expr(philter_mask("`text`", bare_names=True)).alias("m")).collect()}
    off = {r["k"]: r["m"] for r in df.select(
        "k", F.expr(philter_mask("`text`", bare_names=False)).alias("m")).collect()}

    for i, s in enumerate(BARE_NAME_SAMPLES):
        assert "***" in on[f"phi:{i}"], f"flag-on leaked: {s!r}"
        assert off[f"phi:{i}"] == s, f"flag-off must not mask: {s!r}"
        py = scrub_text(s, bare_names=True)
        assert "*" in py and len(py) == len(s)
        assert scrub_text(s) == s
    for i, s in enumerate(BARE_NAME_SAFE):
        assert on[f"safe:{i}"] == s, f"flag-on precision regression: {s!r}"
        assert scrub_text(s, bare_names=True) == s

    # the original safe clinical snippets also survive the flag
    safe_df = spark.createDataFrame([(s,) for s in SAFE_SAMPLES], "text string")
    kept = [r["m"] for r in safe_df.select(
        F.expr(philter_mask("`text`", bare_names=True)).alias("m")).collect()]
    assert kept == SAFE_SAMPLES
