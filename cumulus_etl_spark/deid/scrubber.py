"""The de-id scrubber: rule config → SQL text, compiled once per schema.

The reference walks each resource dict interpretively, per row, per key
(cumulus_etl/deid/scrubber.py:110-306). Spark-first, the walk happens ONCE
per scrub, in pure Python, over the *schema*: the rules compile into SQL text — a ``struct(…)`` rebuild per
node, ``transform`` over arrays of structs — that ``scrub`` wraps in one
``F.expr`` per top-level column. Scrubbing then executes entirely inside
whole-stage codegen — zero Python per row — and building the plan costs
a handful of py4j calls, not one per expression node.

Semantics covered (SURVEY §2.3): P1 allow-list projection, P2 masks,
P3/P7 anon-id, P4 anon-ref, P5 year, P6 zip, P8 philter, P9 check-system,
P10 extension allow-list + modifier-extension veto, P11 resource-level
filter, P12 trim/empty-drop.

One walk yields, at every rule position, an :class:`Out`: the SQL text of
the scrubbed value, its output ``DataType``, and the SQL text of the veto
— the drop-the-resource condition when an unknown modifier extension can
occur below. A struct ORs its fields' vetoes and an array tests its
element's inside one ``exists``, so each element is built once; the
top-level vetoes filter the ORIGINAL frame, before the projection drops
the fields they read. The output types make a table's contract
(:meth:`Scrubber.compile` on the full schema) without building a plan.

Lambda variables are ``__e<depth>``: the ``__`` prefix keeps them off
every FHIR field name, and the depth index keeps a nested ``transform`` /
``filter`` / ``exists`` from shadowing the one it sits in.

Masked values become nulls plus the FHIR primitive-extension sibling
``_<field>`` carrying a ``data-absent-reason: masked`` extension when a
value was actually present (ref scrubber.py:178-182,320-335). Remaining
divergences: a failed ``check-system`` gate nulls the code without the
extension, and empty structs are kept as all-null structs rather than
removed keys (columnar schemas are fixed; NDJSON output drops nulls at
write time, which yields the same serialized form).
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    StringType,
    StructField,
    StructType,
)

from cumulus_etl_spark.deid.philter import philter_mask
from cumulus_etl_spark.deid.rules import (
    ALLOWED_EXTENSION_URLS,
    ALLOWED_MODIFIER_EXTENSION_URLS,
    NODE_RULES,
    resolve_node,
)
from cumulus_etl_spark.functions import (
    anon_id,
    anon_ref,
    check_literal_parsing,
    nullif_empty,
    sql_ident,
    sql_str,
    year_only,
    zip_generalize,
)

# Epic site-specific code systems may carry free-text (possibly PHI) codes;
# a code under one is trusted only if purely numeric (ref scrubber.py:421-467).
EPIC_SYSTEM_PREFIX = "urn:oid:1.2.840.114350."

DATA_ABSENT_URL = "http://hl7.org/fhir/StructureDefinition/data-absent-reason"

# The type of a ``_<field>`` mask marker.
MARKER_TYPE = StructType([
    StructField("extension", ArrayType(StructType([
        StructField("url", StringType()),
        StructField("valueCode", StringType()),
    ]))),
])


class Out(NamedTuple):
    """What the walk yields at one rule position."""

    sql: str | None  # the scrubbed value; None drops the field
    dtype: DataType | None  # the value's type
    veto: str | None  # drop-the-resource condition; None if it cannot fire


class Compiled(NamedTuple):
    """A resource type's scrub over one input schema."""

    columns: tuple[tuple[str, str], ...]  # (output column, SQL text)
    keep: str | None  # row filter, applied before the projection
    schema: StructType  # the output schema (nullability aside)


def _list(values: Iterable[str]) -> str:
    return f"({', '.join(sql_str(v) for v in values)})"


def _in(ref: str, values: Iterable[str]) -> str:
    return f"{ref} IN {_list(values)}"


def _fold(op: str, terms: list[str]) -> str | None:
    """``terms`` joined by ``op`` left to right, parenthesized so the
    parser keeps that left-deep shape (it balances a bare chain)."""
    return reduce(lambda left, right: f"({left}) {op} ({right})", terms) if terms else None


_EXTENSION_URLS = _list(sorted(ALLOWED_EXTENSION_URLS))
_MODIFIER_URLS = _list(sorted(ALLOWED_MODIFIER_EXTENSION_URLS))


def _field(ref: str, name: str) -> str:
    return f"{ref}.{sql_ident(name)}"


def _type_sql(dtype: DataType) -> str:
    """``dtype`` in SQL, field names quoted (FHIR has ``end``, ``class``)."""
    if isinstance(dtype, StructType):
        fields = ", ".join(f"{sql_ident(f.name)}: {_type_sql(f.dataType)}" for f in dtype.fields)
        return f"STRUCT<{fields}>"
    if isinstance(dtype, ArrayType):
        return f"ARRAY<{_type_sql(dtype.elementType)}>"
    return dtype.simpleString()


def _null(dtype: DataType) -> str:
    return f"CAST(NULL AS {_type_sql(dtype)})"


def _struct(parts: list[tuple[str, str, DataType]]) -> tuple[str, StructType]:
    sql = ", ".join(f"{value} AS {sql_ident(name)}" for name, value, _ in parts)
    return f"struct({sql})", StructType([StructField(n, t) for n, _, t in parts])


def _strings(ref: str, depth: int) -> str:
    """Each string of an array trimmed, empties null."""
    v = f"__e{depth}"
    return f"transform({ref}, {v} -> {nullif_empty(v)})"


def _data_absent_marker(orig: str, dtype: DataType) -> str:
    """FHIR primitive extension for a masked field: the ``_<field>`` sibling
    ``{"extension": [{"url": …/data-absent-reason, "valueCode": "masked"}]}``,
    present only where a value actually existed (empty strings count as
    absent, matching the reference's strip-then-skip order)."""
    value = nullif_empty(orig) if isinstance(dtype, StringType) else orig
    ext = f"array(struct({sql_str(DATA_ABSENT_URL)} AS `url`, 'masked' AS `valueCode`))"
    return f"CASE WHEN {value} IS NOT NULL THEN struct({ext} AS `extension`) END"


def _unknown_modifier(mods: str, depth: int) -> str:
    v = f"__e{depth}"
    return f"exists({mods}, {v} -> NOT ({_field(v, 'url')} IN {_MODIFIER_URLS}))"


@dataclass
class Scrubber:
    """Compiles scrub rules against a DataFrame schema.

    ``nlp_mode`` keeps note text (``mask-note`` fields survive and philter
    is skipped on them) — parity with the NLP pipeline's scrubber settings
    (etl/pipeline.py:213-215).
    """

    salt: str
    philter_enabled: bool = False
    # opt-in Title-case-bigram bare-name masking (philter.BARE_NAME_PATTERN);
    # conservative but still heuristic, so off unless the operator asks
    philter_bare_names: bool = False
    nlp_mode: bool = False

    # ---- public API ----

    def scrub(self, df: DataFrame, resource_type: str) -> DataFrame:
        """Project ``df`` down to the de-identified allow-listed shape.

        Rows carrying unknown *modifier* extensions (at any depth) are
        dropped entirely — ignoring a modifier would change meaning.
        """
        check_literal_parsing(df.sparkSession)
        columns, keep, _ = self.compile(resource_type, df.schema)
        # Veto conditions reference fields (modifierExtension at any depth)
        # that the projection drops, so the filter runs against the ORIGINAL
        # frame, before the select. Catalyst pushes the filter into the scan
        # either way; ordering here is a correctness constraint, not a cost.
        if keep is not None:
            df = df.filter(F.expr(keep))
        return df.select(*(F.expr(sql).alias(name) for name, sql in columns))

    def compile(self, resource_type: str, schema: StructType) -> Compiled:
        """The scrub of ``resource_type`` rows read under ``schema``, in
        pure Python."""
        if resource_type not in NODE_RULES:
            raise ValueError(f"no scrub rules for resource type {resource_type!r}")
        parts, vetoes = self._fields(None, schema, resolve_node(resource_type), 0)
        # a null veto condition (e.g. null array) means "no veto"
        nots = _fold("AND", [f"NOT ({v})" for v in vetoes])
        keep = None if nots is None else f"coalesce({nots}, true)"
        _, out_schema = _struct(parts)
        return Compiled(tuple((name, sql) for name, sql, _ in parts), keep, out_schema)

    def dropped_extension_report(self, df: DataFrame, resource_type: str) -> DataFrame:
        """A1: counts of dropped extension URLs, as a real aggregation
        (``groupBy(url).count()``) instead of driver-side dicts
        (ref scrubber.py:343-349)."""
        if "extension" not in df.columns:
            return df.sparkSession.createDataFrame([], "resource_type string, url string, n bigint")
        return (
            df.select(F.explode("extension").alias("ext"))
            .filter(~F.col("ext.url").isin(*ALLOWED_EXTENSION_URLS))
            .groupBy(F.col("ext.url").alias("url"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(resource_type).alias("resource_type"), "url", "n")
        )

    # ---- compiler ----

    def _is_masked(self, spec: object) -> bool:
        """Does this rule null the value out (⇒ synthesize ``_<field>``)?"""
        return spec == "mask" or (spec == "mask-note" and not self.nlp_mode)

    def _fields(
        self, parent: str | None, dtype: StructType, rules: dict[str, object], depth: int
    ) -> tuple[list[tuple[str, str, DataType]], list[str]]:
        """The allow-listed fields of a struct (of the row when ``parent``
        is None): their (name, SQL text, type), with ``_<field>`` mask
        markers, and the veto of each field that has one."""
        parts: list[tuple[str, str, DataType]] = []
        vetoes: list[str] = []
        for sf in dtype.fields:
            spec = rules.get(sf.name)
            if spec is None:
                continue  # allow-list: unlisted fields are dropped
            ref = sql_ident(sf.name) if parent is None else _field(parent, sf.name)
            out = self._field_expr(ref, sf.dataType, spec, parent, depth)
            if out.sql is not None:
                parts.append((sf.name, out.sql, out.dtype))
            if out.veto is not None:
                vetoes.append(out.veto)
            if self._is_masked(spec):
                parts.append((f"_{sf.name}", _data_absent_marker(ref, sf.dataType), MARKER_TYPE))
        return parts, vetoes

    def _field_expr(
        self, ref: str, dtype: DataType, spec: object, parent: str | None, depth: int
    ) -> Out:
        """``ref`` is the SQL text of the value at this position, ``parent``
        that of its enclosing struct, ``depth`` the number of lambdas
        around it."""
        if spec == "ModifierExtension":
            # Unknown modifier extension → veto the resource; the field
            # itself is dropped from output (nothing allowed survives).
            return Out(None, None, f"coalesce({_unknown_modifier(ref, depth)}, false)")
        if spec == "Extension":
            return self._extension_expr(ref, dtype, depth)
        if spec == "Contained":
            return self._contained_expr(ref, dtype, depth)
        if isinstance(spec, str) and spec[:1].islower():
            return self._leaf_expr(ref, dtype, spec, parent, depth)
        if isinstance(spec, str) and ";" in spec:
            # conditional node config, e.g. "Identifier;system=url1;system=url2"
            # (ref scrubber.py node conditions): keep the node only when the
            # named sibling field matches one of the allowed values.
            node_name, *pairs = spec.split(";")
            fields = {p.split("=", 1)[0] for p in pairs}
            if len(fields) != 1:
                raise ValueError(f"conditional node rule mixes fields: {spec!r}")
            cond_field = fields.pop()
            values = [p.split("=", 1)[1] for p in pairs]
            return self._conditional_node_expr(
                ref, dtype, resolve_node(node_name), cond_field, values, depth
            )
        # node recursion (named node or inline dict of child rules)
        child_rules = resolve_node(spec) if isinstance(spec, str) else dict(spec)
        if isinstance(spec, dict):
            # inline backbone rules implicitly extend BackboneElement
            base = resolve_node("BackboneElement")
            child_rules = {**base, **child_rules}
        return self._node_expr(ref, dtype, child_rules, depth)

    def _node_expr(
        self, ref: str, dtype: DataType, rules: dict[str, object], depth: int
    ) -> Out:
        if isinstance(dtype, ArrayType):
            elem_type = dtype.elementType
            if not isinstance(elem_type, StructType):
                # e.g. category: array<string> declared "val"
                if isinstance(elem_type, StringType):
                    return Out(_strings(ref, depth), dtype, None)
                return Out(ref, dtype, None)
            return self._elements_expr(ref, elem_type, rules, depth)
        if isinstance(dtype, StructType):
            sql, out_type, veto = self._struct_expr(ref, dtype, rules, depth)
            return Out(f"CASE WHEN {ref} IS NOT NULL THEN {sql} END", out_type, veto)
        raise ValueError(f"node rules applied to non-struct type {dtype.simpleString()}")

    def _conditional_node_expr(
        self,
        ref: str,
        dtype: DataType,
        rules: dict[str, object],
        cond_field: str,
        values: list[str],
        depth: int,
    ) -> Out:
        """Node kept only where ``cond_field`` ∈ ``values`` (null → drop).
        Arrays filter elements; structs gate the whole value."""
        if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, StructType):
            v = f"__e{depth}"
            kept = f"filter({ref}, {v} -> {_in(_field(v, cond_field), values)})"
            rebuilt, out_type, any_kept = self._elements_expr(
                kept, dtype.elementType, rules, depth
            )
            return Out(f"CASE WHEN size({rebuilt}) > 0 THEN {rebuilt} END", out_type, any_kept)
        if isinstance(dtype, StructType):
            gate = f"coalesce({_in(_field(ref, cond_field), values)}, false)"
            sql, out_type, inner = self._struct_expr(ref, dtype, rules, depth)
            veto = None if inner is None else f"({inner}) AND ({gate})"
            return Out(f"CASE WHEN ({ref} IS NOT NULL) AND ({gate}) THEN {sql} END", out_type, veto)
        raise ValueError(
            f"conditional node rules applied to non-struct type {dtype.simpleString()}"
        )

    def _struct_expr(
        self, ref: str, dtype: StructType, rules: dict[str, object], depth: int
    ) -> Out:
        parts, vetoes = self._fields(ref, dtype, rules, depth)
        if not parts:
            parts = [("__empty__", _null(StringType()), StringType())]
        sql, out_type = _struct(parts)
        # any field's veto fires
        return Out(sql, out_type, _fold("OR", vetoes))

    def _elements_expr(
        self, ref: str, elem_type: StructType, rules: dict[str, object], depth: int
    ) -> Out:
        """``transform`` an array of structs, building the element once; the
        element's veto vetoes the array when it fires on any element (one
        ``exists`` over the same lambda variable)."""
        v = f"__e{depth}"
        sql, out_type, veto = self._struct_expr(v, elem_type, rules, depth + 1)
        return Out(
            f"transform({ref}, {v} -> {sql})",
            ArrayType(out_type),
            None if veto is None else f"exists({ref}, {v} -> {veto})",
        )

    # Resource types whose full rules apply inside `contained` (matches
    # the union CONTAINED schema, schemas/fhir.py). Any other contained
    # type falls back to base Resource fields only — exactly the
    # reference's behavior for types it has no config for
    # (ref scrubber.py:124-127 "just use basic resource type then").
    CONTAINED_TYPES = ("Medication", "Organization", "Patient")

    def _contained_expr(self, ref: str, dtype: DataType, depth: int) -> Out:
        """DomainResource.contained: heterogeneous array scrubbed with
        per-resourceType gating over ONE shared struct shape (a CASE per
        field, not per branch, so every branch yields the same type).

        - base Resource fields (resourceType, anon'd id, meta, …) always
          survive; contained ids hash VERBATIM (a '#careplan' id hashes
          including the '#'), matching the reference's codebook calls
        - a field kept by some branch is null'd unless the element's
          resourceType is one of its keepers
        - an unknown *modifier* extension on a contained element of an
          understood type vetoes the whole outer resource (the
          reference's SkipResource propagates out of contained scrubs);
          unknown-type elements just lose their modifiers like every
          other unlisted field
        """
        if not isinstance(dtype, ArrayType) or not isinstance(
            dtype.elementType, StructType
        ):
            return Out(None, None, None)
        elem = dtype.elementType
        branches = {t: resolve_node(t) for t in self.CONTAINED_TYPES}
        always = resolve_node("Resource")
        v = f"__e{depth}"
        rtype = _field(v, "resourceType")

        parts: list[tuple[str, str, DataType]] = []
        for sf in elem.fields:
            keepers = None
            if sf.name in always:
                spec = always[sf.name]
            elif sf.name == "modifierExtension":
                continue  # veto handling below; never emitted
            else:
                keepers = sorted(t for t, r in branches.items() if sf.name in r)
                if not keepers:
                    continue
                spec = branches[keepers[0]][sf.name]
            out = self._field_expr(_field(v, sf.name), sf.dataType, spec, v, depth + 1)
            if out.sql is None:
                continue
            sql = out.sql if keepers is None else f"CASE WHEN {_in(rtype, keepers)} THEN {out.sql} END"
            parts.append((sf.name, sql, out.dtype))

        struct_sql, out_type = _struct(parts)
        rebuilt = f"CASE WHEN {ref} IS NOT NULL THEN transform({ref}, {v} -> {struct_sql}) END"
        unknown = _unknown_modifier(_field(v, "modifierExtension"), depth + 1)
        mod_veto = f"coalesce(({_in(rtype, self.CONTAINED_TYPES)}) AND ({unknown}), false)"
        return Out(rebuilt, ArrayType(out_type), f"coalesce(exists({ref}, {v} -> {mod_veto}), false)")

    def _extension_expr(self, ref: str, dtype: DataType, depth: int) -> Out:
        """P10: keep only allow-listed extension URLs, preserving payloads."""
        if not isinstance(dtype, ArrayType):
            return Out(_null(dtype), dtype, None)
        v = f"__e{depth}"
        kept = f"filter({ref}, {v} -> {_field(v, 'url')} IN {_EXTENSION_URLS})"
        return Out(f"CASE WHEN size({kept}) > 0 THEN {kept} END", dtype, None)

    def _leaf_expr(
        self, ref: str, dtype: DataType, action: str, parent: str | None, depth: int
    ) -> Out:
        if action.startswith("check-system;"):
            # Trust gate on the sibling `system` value; `parent` is the
            # enclosing Coding struct (wired by _fields).
            sub = action.split(";", 1)[1]
            inner = self._leaf_expr(ref, dtype, sub, None, depth)
            if parent is None:
                return inner
            numeric = f"{_field(parent, 'code')} RLIKE {sql_str('^[0-9.]+$')}"
            unsafe = (
                f"startswith({_field(parent, 'system')}, {sql_str(EPIC_SYSTEM_PREFIX)})"
                f" AND (NOT coalesce({numeric}, false))"
            )
            return Out(f"CASE WHEN NOT coalesce({unsafe}, false) THEN {inner.sql} END", inner.dtype, None)
        if action == "val":
            if isinstance(dtype, StringType):
                return Out(nullif_empty(ref), dtype, None)
            if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, StringType):
                return Out(_strings(ref, depth), dtype, None)
            return Out(ref, dtype, None)
        if action == "mask":
            return Out(_null(dtype), dtype, None)
        if action == "mask-note":
            if not self.nlp_mode:
                return Out(_null(dtype), dtype, None)
            if isinstance(dtype, StringType):
                return Out(nullif_empty(ref), dtype, None)
            return Out(ref, dtype, None)
        if action == "anon-id":
            return Out(anon_id(ref, self.salt), StringType(), None)
        if action == "anon-ref":
            return Out(anon_ref(ref, self.salt), StringType(), None)
        if action == "year":
            return Out(year_only(ref), StringType(), None)
        if action == "zip":
            return Out(zip_generalize(ref), StringType(), None)
        if action == "philter":
            text = nullif_empty(ref)
            if self.philter_enabled and not self.nlp_mode:
                text = philter_mask(text, bare_names=self.philter_bare_names)
            return Out(text, StringType(), None)
        raise ValueError(f"unknown scrub action {action!r}")
