"""Scalar expression helpers for the de-id engine.

Each helper is a SQL-text builder: it takes SQL text for its operand (a
column is its quoted name, ``sql_ident("id")``) and returns SQL text,
and the call site wraps the result in one ``F.expr`` (or nests it in a
larger text, as the scrubber does). No UDFs, so everything stays inside
whole-stage codegen; and one form, not a Column form beside it, because
the JVM parses a whole string in one py4j call where a Column tree costs
a round trip per node. Each mirrors a behavior of the reference
(file:line cited per function).

String literals go through :func:`sql_str` and names through
:func:`sql_ident`, so regexes with backslashes and quotes, URLs and
field names that are SQL keywords all arrive verbatim. Both assume the
default ``spark.sql.parser.escapedStringLiterals=false``, and
:func:`check_literal_parsing` refuses a session that has it on.
"""

from __future__ import annotations

# Low-population 3-digit ZIP prefixes that must be fully zeroed (HIPAA safe
# harbor). Ref: cumulus_etl/deid/scrubber.py:391-410 (frozen set of 14).
RESTRICTED_ZIP_PREFIXES = (
    "036", "059", "102", "203", "205", "369", "556",
    "692", "821", "823", "878", "879", "884", "893",
)


def _hmac_key(salt: str) -> bytes:
    """HMAC key bytes for a salt: a hex salt is unhexlified (the reference
    stores ``secrets.token_hex`` and unhexlifies, codebook.py:213-217); a
    non-hex salt string is keyed by its UTF-8 bytes."""
    import binascii

    try:
        return binascii.unhexlify(salt)
    except (binascii.Error, ValueError):
        return salt.encode("utf-8")


def hmac_pads(salt_hex: str) -> tuple[bytes, bytes]:
    """HMAC-SHA256 inner/outer key pads for a hex-encoded salt.

    The key schedule is a pure function of the (driver-known) salt, so
    it's computed once here and shipped as two 64-byte binary literals —
    the per-row work stays two sha2 calls inside codegen."""
    key = _hmac_key(salt_hex)
    if len(key) > 64:
        import hashlib

        key = hashlib.sha256(key).digest()
    key = key.ljust(64, b"\0")
    return (
        bytes(b ^ 0x36 for b in key),
        bytes(b ^ 0x5C for b in key),
    )


def anon_id_py(salt: str, real_id: str) -> str:
    """Driver-side twin of :func:`anon_id` (HMAC-SHA256, hex salt as key
    bytes) for the small, already-collected frames (Label Studio chart
    payloads) where a Column expression has nowhere to run. Must stay
    byte-identical to the Column form — test_deid_golden pins both."""
    import hashlib
    import hmac as hmac_mod

    return hmac_mod.new(_hmac_key(salt), real_id.encode(), hashlib.sha256).hexdigest()


def sql_str(s: str) -> str:
    """A SQL string literal whose value is ``s``: backslashes and single
    quotes are backslash-escaped, everything else is kept as is."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(x: float) -> str:
    """A SQL DOUBLE literal whose value is ``x`` (``0.7D``): a bare ``0.7``
    parses as DECIMAL, and ``repr`` round-trips every double exactly."""
    return repr(float(x)) + "D"


def check_literal_parsing(spark) -> None:
    """Raise unless ``spark`` parses :func:`sql_str` literals as written.

    With ``spark.sql.parser.escapedStringLiterals`` on, the parser keeps
    the escaping backslashes, so a regex such as ``\\b`` would match a
    backslash and a ``b``, and PHI it should mask would pass through."""
    conf = "spark.sql.parser.escapedStringLiterals"
    if spark.conf.get(conf, "false").strip().lower() == "true":
        raise ValueError(f"{conf}=true changes how SQL string literals parse; set it to false")


def sql_ident(name: str) -> str:
    """A quoted SQL identifier (column or struct field) named ``name``."""
    return "`" + name.replace("`", "``") + "`"


def anon_id(real_id: str, salt: str) -> str:
    """Deterministic pseudonym: HMAC-SHA256(salt, id) — byte-for-byte the
    reference's algorithm (cumulus_etl/deid/codebook.py:204-217 via
    cumulus-fhir-support ``anon_id``, the Microsoft FHIR-anonymizer
    scheme), verified against its golden fixtures in
    ``tests/test_deid_golden.py``.

    ``salt`` is the codebook's hex string (ref stores ``token_hex`` and
    unhexlifies to key bytes). HMAC compiles to TWO JVM-side sha2 calls —
    ``sha2(opad ‖ unhex(sha2(ipad ‖ id)))`` — with the key pads
    precomputed driver-side and inlined as ``X'…'`` binary literals, so
    the whole de-id projection remains stateless, codegen-resident, and
    embarrassingly parallel: no UDF, no codebook lookups on the hot path
    (mappings are an audit side-output, see deid/codebook.py here).
    """
    ipad, opad = hmac_pads(salt)
    inner = f"sha2(concat(X'{ipad.hex()}', CAST(CAST({real_id} AS STRING) AS BINARY)), 256)"
    return f"sha2(concat(X'{opad.hex()}', unhex({inner})), 256)"


def anon_ref(ref: str, salt: str) -> str:
    """Rewrite a FHIR reference to ``Type/anon_id`` — the reference's
    exact algorithm (deid/scrubber.py:377-389 + fhir/fhir_utils.py:38-72,
    golden-verified):

    - contained (``#id``) → ``#`` + anon_id(id) (hash keeps the link to
      the contained resource's anonymized ``id``)
    - relative/conditional (``Type/id`` or ``Type?search``, split at the
      FIRST ``/`` or ``?``) → ``Type/`` + anon_id(rest) — conditional
      search refs hash the whole search expression as the "id"
    - anything else (absolute URLs, malformed) → null. The reference
      rejects the entire resource on these (ValueError path); we keep
      the row and null the ref — the safer de-id outcome and a
      documented divergence.
    """
    rest = f"regexp_replace({ref}, {sql_str('^[A-Za-z]+[/?]')}, '')"
    return (
        f"CASE WHEN startswith({ref}, '#')"
        f" THEN concat('#', {anon_id(f'substring({ref}, 2, 1000000)', salt)})"
        f" WHEN {ref} RLIKE {sql_str('^[A-Za-z]+[/?].+')}"
        f" THEN concat(regexp_extract({ref}, {sql_str('^([A-Za-z]+)[/?]')}, 1), '/',"
        f" {anon_id(rest, salt)})"
        " ELSE CAST(NULL AS STRING) END"
    )


def year_only(date_str: str) -> str:
    """Generalize a date(/time) string to its year: first 4 chars.

    Ref: cumulus_etl/deid/scrubber.py:258-259 (birthDate → year).
    """
    return f"substring({date_str}, 1, 4)"


def zip_generalize(zip_code: str) -> str:
    """HIPAA zip generalization: keep 3-digit prefix, zero remaining digits
    (non-digit chars kept — non-US zips pass through); fully zero the 14
    restricted low-population prefixes.

    Ref: cumulus_etl/deid/scrubber.py:391-420 (same semantics, as one
    codegen-friendly expression instead of a per-row method).
    """
    prefix = f"substring({zip_code}, 1, 3)"
    restricted = ", ".join(sql_str(p) for p in RESTRICTED_ZIP_PREFIXES)
    return (
        f"concat(CASE WHEN {prefix} IN ({restricted}) THEN '000' ELSE {prefix} END,"
        f" translate(substring({zip_code}, 4, 1000000), '123456789', '000000000'))"
    )


def nullif_empty(c: str) -> str:
    """Trim whitespace and convert empty strings to null.

    Ref: cumulus_etl/deid/scrubber.py:237-243 (strip + drop empties).
    """
    return f"nullif(trim({c}), '')"
