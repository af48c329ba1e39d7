"""Scalar expression helpers for the de-id engine.

All are pure Catalyst Column expressions — no UDFs — so they stay inside
whole-stage codegen and can be pushed into any projection. Each mirrors a
behavior of the reference (file:line cited per function).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def anon_id(real_id: Column | str, salt: str) -> Column:
    """Deterministic pseudonym: HMAC-SHA256(salt, id) — byte-for-byte the
    reference's algorithm (cumulus_etl/deid/codebook.py:204-217 via
    cumulus-fhir-support ``anon_id``, the Microsoft FHIR-anonymizer
    scheme), verified against its golden fixtures in
    ``tests/test_deid_golden.py``.

    ``salt`` is the codebook's hex string (ref stores ``token_hex`` and
    unhexlifies to key bytes). HMAC compiles to TWO JVM-side sha2 calls —
    ``sha2(opad ‖ unhex(sha2(ipad ‖ id)))`` — with the key pads
    precomputed driver-side, so the whole de-id projection remains
    stateless, codegen-resident, and embarrassingly parallel: no UDF, no
    codebook lookups on the hot path (mappings are an audit side-output,
    see deid/codebook.py here).
    """
    rid = F.col(real_id) if isinstance(real_id, str) else real_id
    ipad, opad = hmac_pads(salt)
    inner = F.sha2(F.concat(F.lit(ipad), rid.cast("string").cast("binary")), 256)
    return F.sha2(F.concat(F.lit(opad), F.unhex(inner)), 256)


def anon_ref(ref: Column | str, salt: str) -> Column:
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
    r = F.col(ref) if isinstance(ref, str) else ref
    is_relative = r.rlike(r"^[A-Za-z]+[/?].+")
    rtype = F.regexp_extract(r, r"^([A-Za-z]+)[/?]", 1)
    rest = F.regexp_replace(r, r"^[A-Za-z]+[/?]", "")
    return (
        F.when(r.startswith("#"), F.concat(F.lit("#"), anon_id(F.substring(r, 2, 1_000_000), salt)))
        .when(is_relative, F.concat(rtype, F.lit("/"), anon_id(rest, salt)))
        .otherwise(F.lit(None).cast("string"))
    )


def year_only(date_str: Column | str) -> Column:
    """Generalize a date(/time) string to its year: first 4 chars.

    Ref: cumulus_etl/deid/scrubber.py:258-259 (birthDate → year).
    """
    c = F.col(date_str) if isinstance(date_str, str) else date_str
    return F.substring(c, 1, 4)


def zip_generalize(zip_code: Column | str) -> Column:
    """HIPAA zip generalization: keep 3-digit prefix, zero remaining digits
    (non-digit chars kept — non-US zips pass through); fully zero the 14
    restricted low-population prefixes.

    Ref: cumulus_etl/deid/scrubber.py:391-420 (same semantics, as one
    codegen-friendly expression instead of a per-row method).
    """
    z = F.col(zip_code) if isinstance(zip_code, str) else zip_code
    prefix = F.substring(z, 1, 3)
    suffix = F.translate(F.substring(z, 4, 1_000_000), "123456789", "000000000")
    return F.concat(
        F.when(prefix.isin(*RESTRICTED_ZIP_PREFIXES), F.lit("000")).otherwise(prefix),
        suffix,
    )


def nullif_empty(c: Column | str) -> Column:
    """Trim whitespace and convert empty strings to null.

    Ref: cumulus_etl/deid/scrubber.py:237-243 (strip + drop empties).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.nullif(F.trim(col), F.lit(""))
