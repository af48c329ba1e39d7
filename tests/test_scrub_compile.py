"""The scrub compiles to SQL text and its output type in one Python walk.

Over the 20 task types x philter on/off x ``nlp_mode`` (80
configurations): the walk's type is the schema Spark analyzes the scrub
to, the analyzed plans are the ones the Column-building scrubber made
before the walk emitted SQL text, and building them runs no Python lambda
and plans no Python evaluation. Also: string literals (philter regexes,
the check-system pattern, extension URLs) and a non-hex salt reach the
JVM verbatim at nested array-in-array positions.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pyspark
import pytest

from cumulus_etl_spark.deid import Scrubber
from cumulus_etl_spark.etl.tasks import BASIC_TASKS
from cumulus_etl_spark.schemas import cut_schema, schema_for
from cumulus_etl_spark.sinks.merge import _nullable
from cumulus_etl_spark.sources import scan_resources
from tests.fhir_fixtures import expected_anon_id, write_ndjson
from tests.test_deid_fuzz import (
    BARE_NAME_SAFE,
    BARE_NAME_SAMPLES,
    CANARY,
    PHI_SAMPLES,
    SAFE_SAMPLES,
)

CONFIGS = [
    (task.resource_type, philter, nlp)
    for task in BASIC_TASKS
    for philter in (False, True)
    for nlp in (False, True)
]

# sha256 of each configuration's normalized analyzed plan (salt "00", input
# read from JSON under the full schema), as the Column-building scrubber
# built it
GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "scrub_plans.json")


def _normalized(plan: str) -> str:
    """Expression ids and fresh-name suffixes stripped, every lambda
    variable given one name, and each ``IN`` list sorted (its order is
    the allow-list's iteration order, which means nothing)."""
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"\b([A-Za-z]+)_\d+\b", r"\1", plan)
    plan = re.sub(r"lambda \w+", "lambda v", plan)
    return re.sub(
        r" IN \(([^()]*)\)",
        lambda m: " IN (" + ",".join(sorted(m.group(1).split(","))) + ")",
        plan,
    )


def _key(rt: str, philter: bool, nlp: bool) -> str:
    return f"{rt}|philter={philter}|nlp={nlp}"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Each configuration's scrub, built once in one Spark session over an
    empty JSON source, counting the Python lambdas the builds make."""
    import pyspark.sql.functions.builtin as B

    empty = str(tmp_path_factory.mktemp("empty"))
    made: list = []
    create = B._create_lambda

    def counted(f):
        made.append(f)
        return create(f)

    key = "spark.sql.debug.maxToStringFields"
    was = spark.conf.get(key)
    spark.conf.set(key, "100000")
    out = {}
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(B, "_create_lambda", counted)
            for rt, philter, nlp in CONFIGS:
                source = spark.read.schema(schema_for(rt)).json(empty)
                scrubber = Scrubber(salt="00", philter_enabled=philter, nlp_mode=nlp)
                df = scrubber.scrub(source, rt)
                qe = df._jdf.queryExecution()
                out[_key(rt, philter, nlp)] = (
                    scrubber, df.schema, qe.analyzed().toString(), qe.executedPlan().toString()
                )
    finally:
        spark.conf.set(key, was)
    return out, made


def test_walk_type_equals_analyzed_schema(built):
    """The walk's output type is the analyzed scrub's schema (nullability
    aside: the table pointer records everything nullable)."""
    frames, _ = built
    for rt, philter, nlp in CONFIGS:
        scrubber, analyzed, _, _ = frames[_key(rt, philter, nlp)]
        walked = scrubber.compile(rt, schema_for(rt)).schema
        assert _nullable(walked) == _nullable(analyzed), (rt, philter, nlp)


def test_walk_type_on_a_census_cut(spark):
    """Each type's scrub over a cut of its schema (the merge's read
    columns plus every other top-level field, the shape a census yields)
    analyzes to the walk's type."""
    for task in BASIC_TASKS:
        rt = task.resource_type
        full = schema_for(rt)
        cut = cut_schema(full, set(full.fieldNames()[::2]) | task.policy.read_columns)
        scrubber = Scrubber(salt="00", philter_enabled=True)
        analyzed = scrubber.scrub(spark.createDataFrame([], cut), rt).schema
        assert _nullable(scrubber.compile(rt, cut).schema) == _nullable(analyzed), rt


def test_plans_match_the_column_build_and_run_no_python(built):
    """The SQL text parses to the plan the Column API built, lambda for
    lambda; no build makes a Python lambda, and no plan evaluates
    Python."""
    frames, made = built
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    if golden["spark"] != pyspark.__version__:
        pytest.skip(f"plan digests recorded on Spark {golden['spark']}")
    digests = {
        key: hashlib.sha256(_normalized(analyzed).encode()).hexdigest()
        for key, (_, _, analyzed, _) in frames.items()
    }
    assert digests == golden["plans"]
    for key, (_, _, _, executed) in frames.items():
        assert "BatchEvalPython" not in executed and "ArrowEvalPython" not in executed, key
    assert made == []


EPIC = "urn:oid:1.2.840.114350.1.13.0.1.7.2.768282"


def _texts(bare_names: bool) -> dict[str, tuple[str, str | None]]:
    """Every philter sample -> (text, what the scrub must make of it:
    None when it must be masked)."""
    out = {}
    for cls, snips in PHI_SAMPLES.items():
        for i, s in enumerate(snips):
            out[f"phi-{cls}-{i}"] = (s, None)
    for i, s in enumerate(SAFE_SAMPLES):
        out[f"safe-{i}"] = (s, s)
    for i, s in enumerate(BARE_NAME_SAMPLES):
        out[f"bare-{i}"] = (s, None if bare_names else s)
    for i, s in enumerate(BARE_NAME_SAFE):
        out[f"bare-safe-{i}"] = (s, s)
    return out


def _check(got: str | None, text: str, want: str | None, where: str) -> None:
    if want is None:
        assert got != text and "***" in got, f"{where} leaked: {text!r} -> {got!r}"
    else:
        assert got == want, f"{where}: {text!r} -> {got!r}"


@pytest.mark.parametrize("bare_names", [False, True], ids=["plain", "bare_names"])
def test_sql_literals_reach_the_jvm_verbatim(spark, tmp_path, bare_names):
    """Philter text at array-in-array positions (``Observation.component
    .code.coding``, ``Patient.contact.relationship``) is masked exactly as
    the philter tests expect; the check-system gate's regex, the
    extension URL allow-lists and a non-hex salt work there too; and
    ``Patient.contact.telecom`` stays dropped."""
    texts = _texts(bare_names)
    loinc = "http://loinc.org"
    race = "http://hl7.org/fhir/Profile/us-core#race"  # allow-listed
    obs = {
        "resourceType": "Observation", "id": "o1",
        "subject": {"reference": "Patient/p1"},
        "component": [{
            "code": {"coding": [{"system": loinc, "code": k, "display": t}
                                for k, (t, _) in texts.items()]
                     + [{"system": EPIC, "code": "123.45", "display": "numeric"},
                        {"system": EPIC, "code": "JOHN-SMITH", "display": "free"}]},
            "extension": [{"url": race, "valueString": "r"},
                          {"url": "https://example.com/it's-private", "valueString": CANARY}],
        }],
    }
    vetoed = {
        "resourceType": "Observation", "id": "o2",
        "component": [{"modifierExtension": [{"url": "https://example.com/x'y\\z"}]}],
    }
    pat = {
        "resourceType": "Patient", "id": "p1",
        "contact": [{
            "relationship": [{"text": t, "coding": [{"system": loinc, "display": t}]}
                             for t, _ in texts.values()],
            "telecom": [{"system": "phone", "value": CANARY}],
            "organization": {"reference": "Organization/org'1"},
        }],
    }
    write_ndjson(str(tmp_path), "o.ndjson", [obs, vetoed])
    write_ndjson(str(tmp_path), "p.ndjson", [pat])
    scrubber = Scrubber(salt="fz", philter_enabled=True, philter_bare_names=bare_names)

    (o,) = scrubber.scrub(scan_resources(spark, str(tmp_path), ["Observation"]), "Observation").collect()
    assert o["id"] == expected_anon_id("fz", "o1")
    assert o["subject"]["reference"] == "Patient/" + expected_anon_id("fz", "p1")
    (component,) = o["component"]
    codings = component["code"]["coding"]
    for coding, (key, (text, want)) in zip(codings, texts.items()):
        assert coding["code"] == key
        _check(coding["display"], text, want, f"component.code.coding[{key}]")
    numeric, free = codings[-2:]
    assert (numeric["code"], numeric["display"]) == ("123.45", "numeric")
    assert (free["code"], free["display"]) == (None, None)
    assert [e["url"] for e in component["extension"]] == [race]

    (p,) = scrubber.scrub(scan_resources(spark, str(tmp_path), ["Patient"]), "Patient").collect()
    (contact,) = p["contact"]
    assert "telecom" not in contact.asDict()
    assert contact["organization"]["reference"] == "Organization/" + expected_anon_id("fz", "org'1")
    for rel, (text, want) in zip(contact["relationship"], texts.values()):
        _check(rel["text"], text, want, "contact.relationship.text")
        _check(rel["coding"][0]["display"], text, want, "contact.relationship.coding")
    payload = json.dumps([o.asDict(recursive=True), p.asDict(recursive=True)])
    assert CANARY not in payload


def test_scrub_refuses_escaped_string_literals(spark):
    """With ``spark.sql.parser.escapedStringLiterals`` on, the philter
    regexes would parse with their escaping backslashes and match
    nothing, so the scrub raises instead of passing PHI through."""
    key = "spark.sql.parser.escapedStringLiterals"
    df = spark.createDataFrame([], schema_for("Condition"))
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            Scrubber(salt="00", philter_enabled=True).scrub(df, "Condition")
    finally:
        spark.conf.set(key, "false")
