"""Philter-lite: regex-based PHI masking for free-text fields (P8).

The reference wraps the ``philter-lite`` package (cumulus_etl/deid/
philter.py:13-43) with a 269-rule config (philter-config.toml: 134
exclude rules + safe-word includes + NLTK POS name-finding). That package
isn't available here, so this is a regex port of the exclude-rule
CATEGORIES: contact (email/phone/pager/URL), government IDs (SSN),
medical record numbers (labeled and bare digit runs — the config's "six
or more digits"), street addresses and city/state/zip, ages, salutation
/ signature name patterns, and the letter-digit ID shapes (CCDDDD etc.).
Dates are deliberately NOT masked — the reference keeps dates (config
header lines 5-8: Cumulus finds accurate dates useful).

Person-name recall (the philter-lite POS-tagger + blacklist role) comes
from three *case-sensitive* contextual rules over the embedded
public-domain name lists (:mod:`.names`): name pairs where either token
is a known first/last name, credentialed names ("Lee Chen, RN"), and
capitalized tokens following clinical trigger words ("seen by …",
"patient: …"). A bare single name with no context is deliberately NOT
masked (precision); full POS tagging remains out of scope (documented,
narrower, recall gap vs philter-lite).

Two implementations, same patterns:

- :func:`philter_mask` — SQL text for a ``regexp_replace`` chain replacing
  each match with ``***`` (wrap it in ``F.expr``). Usable anywhere,
  including inside higher-order ``transform`` lambdas over nested
  arrays-of-structs (Spark forbids Python UDFs there), and stays in
  whole-stage codegen. NOT length-preserving (divergence from the
  reference, documented).
- :func:`scrub_text` / :func:`philter_udf` — length-preserving asterisk
  replacement as an Arrow-batched pandas_udf, for top-level note text
  where downstream span arithmetic must keep offsets (upload-notes path).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from cumulus_etl_spark.functions import sql_str

from .names import FIRST_NAMES, SURNAMES

_STREET_SUFFIX = (
    r"(?:Street|St|Avenue|Ave|Road|Rd|Boulevard|Blvd|Lane|Ln|Drive|Dr|"
    r"Court|Ct|Place|Pl|Terrace|Ter|Highway|Hwy|Parkway|Pkwy|Circle|Cir|Way)"
)

# (class name, regex) — the same pattern string is valid in both Python's
# `re` and Java's `j.u.regex` (word boundaries, lookarounds, counted
# repetition all overlap); compiled/applied case-insensitively in both.
# Order matters: labeled IDs run before bare digit runs so the label is
# masked with its value.
_PATTERNS: list[tuple[str, str]] = [
    # RFC 5322 atext local part (hypothesis-found: '*@a.com' is a valid email)
    ("email", r"[A-Za-z0-9.!#$%&'*+/=?^_`{|}~-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("url", r"\bhttps?://\S+"),
    ("ssn", r"\b\d{3}[-. ]\d{2}[-. ]\d{4}\b"),
    ("phone", r"(?<!\w)(?:\+?1[-. ]?)?(?:\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3}[-. ]\d{4}\b"),
    ("pager", r"\b(?:pager|beeper)\s*#?\s*\d{4,6}\b"),
    # "patient mrn" / "account #" / "accession #" / "id verbose" rules
    (
        "labeled_id",
        r"\b(?:MRN|medical record(?: number)?|acct|account|accession|order number|"
        r"specimen(?: number)?|activation code)\s*[#:]?\s*[A-Za-z0-9-]{4,}\b",
    ),
    # addresses.num_streetname(_extension/_suite/...) family
    (
        "street_address",
        r"\b\d{1,6}\s+(?:[A-Za-z][A-Za-z'-]+\s+){1,3}" + _STREET_SUFFIX
        + r"\b\.?(?:,?\s*(?:Apt|Apartment|Suite|Ste|Unit|Floor|Fl|Rm|Room|#)\.?\s*\w+)?",
    ),
    # addresses.city_state_zip / city_zip
    ("city_state_zip", r"\b[A-Za-z][A-Za-z'-]+(?:\s[A-Za-z][A-Za-z'-]+)?,\s*[A-Za-z]{2},?\s+\d{5}(?:-\d{4})?\b"),
    # "x year old" / "x yo" / "age x" family
    ("age", r"\b\d{1,3}[- ](?:year|yr)s?[- ]old\b|\b\d{1,3}\s*y[./]?o\b|\bage[: ]+\d{1,3}\b"),
    # salutations + Find Names (regex subset; POS-tagger names out of scope)
    (
        "salutation_name",
        r"\b(?:Mr|Mrs|Ms|Miss|Dr|Prof)\.?\s+[A-Za-z][A-Za-z'-]+(?:\s+[A-Za-z][A-Za-z'-]+)?",
    ),
    ("signature", r"\b(?:sincerely|best regards|regards|warm regards),?\s*\n\s*[A-Za-z][A-Za-z .'-]+"),
    # letter-digit ID shapes (CCDDDD+ with a long digit run)
    ("mixed_id", r"\b[A-Za-z]{1,3}\d{5,}\b"),
    # "six or more digits" exclude rule
    ("digit_run", r"\b\d{6,}\b"),
    # -- person names (case-SENSITIVE: capitalization is the signal; see
    #    _CASE_SENSITIVE below). Run after salutation/signature so those
    #    broader spans are already collapsed. --
    # Name pair: known first + Capitalized surname, or Capitalized
    # given + known surname (one list hit is enough; both tokens must be
    # capitalized). Optional capitalized middle name in the first form.
    (
        "name_pair",
        r"\b(?:(?:" + "|".join(sorted(FIRST_NAMES))
        + r")\s+(?:[A-Z][a-z'-]+\s+)?[A-Z][A-Za-z'-]+"
        + r"|[A-Z][A-Za-z'-]+\s+(?:" + "|".join(sorted(SURNAMES)) + r"))\b",
    ),
    # Credentialed name: "Lee Chen, RN" / "Robert Johnson, M.D."
    (
        "name_credential",
        r"\b[A-Z][a-z'-]+(?:\s+[A-Z][a-z'-]+){0,2}\s*,\s*"
        r"(?:M\.?D\.?|D\.?O\.?|R\.?N\.?|N\.?P\.?|P\.?A\.?|PhD|DDS|CRNA|LICSW|LCSW)\b",
    ),
    # Trigger-word context: "(?i:...)" scopes case-insensitivity to the
    # trigger alone; the name tokens stay capitalization-gated.
    (
        "name_context",
        r"\b(?i:patient|pt\.?|name|seen by|signed by|evaluated by|examined by|"
        r"referred (?:to|by)|attending|resident|nurse|provider|caregiver|spouse|"
        r"wife|husband|mother|father|son|daughter|brother|sister)"
        r"[:\s]\s*[A-Z][a-z'-]+(?:\s+[A-Z][a-z'-]+)?",
    ),
    # "Lastname, Firstname" chart-header form (r4, VERDICT item 9): the
    # pre-comma token is surname-list gated — a bare capitalized word
    # before a comma is ordinary prose ("Today, John ..."), so the
    # looser direction is deliberately NOT matched.
    (
        "name_last_first",
        r"\b(?:" + "|".join(sorted(SURNAMES)) + r"),\s*[A-Z][a-z'-]+\b",
    ),
    # Possessive name: "Smith's pain", "Emily's mother" — list-gated
    # (either list), apostrophe-s included in the span.
    (
        "name_possessive",
        r"\b(?:" + "|".join(sorted(SURNAMES | FIRST_NAMES)) + r")'s\b",
    ),
]

# Classes whose capitalization carries signal — applied without the (?i)
# prefix on the JVM path and without re.IGNORECASE on the Python path.
_CASE_SENSITIVE = {
    "name_pair", "name_credential", "name_context",
    "name_last_first", "name_possessive",
}

# -- opt-in bare-name heuristic (r4 verdict ask 8 / r5 ask 9) ----------------
# Title-case bigram with NO list hit and NO trigger context — the recall
# class the POS-tagger covers in philter-lite. Deliberately conservative
# and OFF by default (it redacts any mid-sentence Title-case bigram):
#  - positive lookbehind requires a lowercase/digit/comma + space before
#    the bigram, so sentence-initial bigrams ("Blood Pressure was ...")
#    and headers never match (documented recall gap: a bare name opening
#    a sentence survives);
#  - clinical/institutional second tokens are excluded so eponym and
#    facility phrases survive ("Parkinson Disease", "Mass General
#    Hospital"); lowercase-second eponyms ("Down syndrome",
#    "Parkinson's disease") never matched to begin with (case gate).
_BARE_SAFE_FIRST = (
    "New|North|South|East|West|Saint|St|Mount|Lake|Fort|Port|"
    "Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday|"
    "January|February|March|April|May|June|July|August|September|"
    "October|November|December"
)
_BARE_SAFE_SECOND = (
    "Disease|Syndrome|Sign|Test|Score|Scale|Criteria|Maneuver|Stage|"
    "Hospital|Center|Centre|Clinic|Department|University|College|"
    "General|Medical|Memorial|Regional|Health|Healthcare|Institute|"
    "Lab|Laboratory|Unit|Ward|Pharmacy|Imaging|Radiology|Oncology"
)
BARE_NAME_PATTERN = (
    r"(?<=[a-z0-9,;]\s)"
    r"(?!(?:" + _BARE_SAFE_FIRST + r")\b)[A-Z][a-z'-]+\s+"
    r"(?!(?:" + _BARE_SAFE_SECOND + r")\b)[A-Z][a-z'-]+\b"
)
_BARE_NAME_RE = re.compile(BARE_NAME_PATTERN)

_PHI_PATTERNS: list[re.Pattern] = [
    re.compile(p, 0 if cls in _CASE_SENSITIVE else re.IGNORECASE)
    for cls, p in _PATTERNS
]

REDACTION = "***"

# the JVM-side patterns as SQL literals, in application order
_SQL_PATTERNS = tuple(
    sql_str(("" if cls in _CASE_SENSITIVE else "(?i)") + pat) for cls, pat in _PATTERNS
)
_SQL_BARE_NAME = sql_str(BARE_NAME_PATTERN)


def philter_mask(text: str, bare_names: bool = False) -> str:
    """JVM-side PHI masking of the SQL text ``text``: each detected span
    becomes ``***``.

    ``bare_names``: opt-in Title-case-bigram heuristic (see
    ``BARE_NAME_PATTERN``) — runs AFTER the list/context name rules so
    those tighter spans are already collapsed."""
    for pat in _SQL_PATTERNS + ((_SQL_BARE_NAME,) if bare_names else ()):
        text = f"regexp_replace({text}, {pat}, {sql_str(REDACTION)})"
    return text


def scrub_text(text: str | None, bare_names: bool = False) -> str | None:
    """Length-preserving PHI masking (each span → equal-length asterisks)."""
    if text is None:
        return None
    for pat in _PHI_PATTERNS:
        text = pat.sub(lambda m: "*" * len(m.group(0)), text)
    if bare_names:
        text = _BARE_NAME_RE.sub(lambda m: "*" * len(m.group(0)), text)
    return text


@F.pandas_udf(StringType())
def philter_udf(texts: pd.Series) -> pd.Series:
    return texts.map(scrub_text)

