"""The de-id scrubber: rule config → pure Catalyst projection.

The reference walks each resource dict interpretively, per row, per key
(cumulus_etl/deid/scrubber.py:110-306). Spark-first, the walk happens ONCE
at plan-build time over the DataFrame *schema*: the rules compile into a
nested ``select`` of struct-rebuild expressions (``F.struct`` /
``F.transform`` for arrays-of-structs), so scrubbing executes entirely
inside whole-stage codegen — zero Python per row (philter is the one
optional pandas_udf).

Semantics covered (SURVEY §2.3): P1 allow-list projection, P2 masks,
P3/P7 anon-id, P4 anon-ref, P5 year, P6 zip, P8 philter, P9 check-system,
P10 extension allow-list + modifier-extension veto, P11 resource-level
filter, P12 trim/empty-drop.

Veto builders come from the same walk as the projection: at each position
it returns the rebuilt value and, if a modifier extension can occur below,
a function from the value there to the drop-the-resource condition. A struct
ORs its fields' builders and an array applies its element's inside one
``exists``, so each element is built once; the top-level builders filter the
ORIGINAL frame, before the projection drops the fields they read.

Masked values become nulls plus the FHIR primitive-extension sibling
``_<field>`` carrying a ``data-absent-reason: masked`` extension when a
value was actually present (ref scrubber.py:178-182,320-335). Remaining
divergences: a failed ``check-system`` gate nulls the code without the
extension, and empty structs are kept as all-null structs rather than
removed keys (columnar schemas are fixed; NDJSON output drops nulls at
write time, which yields the same serialized form).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StringType, StructType

from cumulus_etl_spark.deid.philter import philter_mask
from cumulus_etl_spark.deid.rules import (
    ALLOWED_EXTENSION_URLS,
    ALLOWED_MODIFIER_EXTENSION_URLS,
    NODE_RULES,
    resolve_node,
)
from cumulus_etl_spark.functions import anon_id, anon_ref, nullif_empty, year_only, zip_generalize

# Epic site-specific code systems may carry free-text (possibly PHI) codes;
# a code under one is trusted only if purely numeric (ref scrubber.py:421-467).
EPIC_SYSTEM_PREFIX = "urn:oid:1.2.840.114350."

DATA_ABSENT_URL = "http://hl7.org/fhir/StructureDefinition/data-absent-reason"

# The value at one rule position → its drop-the-resource condition.
VetoBuilder = Callable[[Column], Column]


def _data_absent_marker(orig: Column, dtype: DataType) -> Column:
    """FHIR primitive extension for a masked field: the ``_<field>`` sibling
    ``{"extension": [{"url": …/data-absent-reason, "valueCode": "masked"}]}``,
    present only where a value actually existed (empty strings count as
    absent, matching the reference's strip-then-skip order)."""
    present = orig.isNotNull()
    if isinstance(dtype, StringType):
        present = nullif_empty(orig).isNotNull()
    ext = F.array(
        F.struct(F.lit(DATA_ABSENT_URL).alias("url"), F.lit("masked").alias("valueCode"))
    )
    return F.when(present, F.struct(ext.alias("extension")))


def _unknown_modifier(mods: Column) -> Column:
    return F.exists(mods, lambda m: ~m["url"].isin(*ALLOWED_MODIFIER_EXTENSION_URLS))


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
        if resource_type not in NODE_RULES:
            raise ValueError(f"no scrub rules for resource type {resource_type!r}")
        exprs, vetoes = self._fields(None, df.schema, resolve_node(resource_type))
        # Veto conditions reference fields (modifierExtension at any depth)
        # that the projection drops, so the filter runs against the ORIGINAL
        # frame, before the select. Catalyst pushes the filter into the scan
        # either way; ordering here is a correctness constraint, not a cost.
        if vetoes:
            keep = reduce(and_, (~veto(F.col(name)) for name, veto in vetoes))
            # coalesce: a null veto condition (e.g. null array) means "no veto"
            df = df.filter(F.coalesce(keep, F.lit(True)))
        return df.select(*exprs)

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
        self, col: Column | None, dtype: StructType, rules: dict[str, object]
    ) -> tuple[list[Column], list[tuple[str, VetoBuilder]]]:
        """The allow-listed fields of a struct (of the row when ``col`` is
        None): their output columns, with ``_<field>`` mask markers, and the
        veto builder of each field that has one."""
        parts: list[Column] = []
        vetoes: list[tuple[str, VetoBuilder]] = []
        for sf in dtype.fields:
            spec = rules.get(sf.name)
            if spec is None:
                continue  # allow-list: unlisted fields are dropped
            value = F.col(sf.name) if col is None else col[sf.name]
            expr, veto = self._field_expr(value, sf.dataType, spec, parent=col)
            if expr is not None:
                parts.append(expr.alias(sf.name))
            if veto is not None:
                vetoes.append((sf.name, veto))
            if self._is_masked(spec):
                parts.append(_data_absent_marker(value, sf.dataType).alias(f"_{sf.name}"))
        return parts, vetoes

    def _field_expr(
        self, col: Column, dtype: DataType, spec: object, parent: Column | None = None
    ) -> tuple[Column | None, VetoBuilder | None]:
        """Returns (rewritten expression | None-to-drop, veto builder | None)."""
        if spec == "ModifierExtension":
            # Unknown modifier extension → veto the resource; the field
            # itself is dropped from output (nothing allowed survives).
            return None, lambda mods: F.coalesce(_unknown_modifier(mods), F.lit(False))
        if spec == "Extension":
            return self._extension_expr(col, dtype), None
        if spec == "Contained":
            return self._contained_expr(col, dtype)
        if isinstance(spec, str) and spec[:1].islower():
            return self._leaf_expr(col, dtype, spec, parent=parent), None
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
                col, dtype, resolve_node(node_name), cond_field, values
            )
        # node recursion (named node or inline dict of child rules)
        child_rules = resolve_node(spec) if isinstance(spec, str) else dict(spec)
        if isinstance(spec, dict):
            # inline backbone rules implicitly extend BackboneElement
            base = resolve_node("BackboneElement")
            child_rules = {**base, **child_rules}
        return self._node_expr(col, dtype, child_rules)

    def _node_expr(
        self, col: Column, dtype: DataType, rules: dict[str, object]
    ) -> tuple[Column | None, VetoBuilder | None]:
        if isinstance(dtype, ArrayType):
            elem_type = dtype.elementType
            if not isinstance(elem_type, StructType):
                # e.g. category: array<string> declared "val"
                return F.transform(col, lambda x: nullif_empty(x)) if isinstance(
                    elem_type, StringType
                ) else col, None
            return self._elements_expr(col, elem_type, rules)
        if isinstance(dtype, StructType):
            expr, veto = self._struct_expr(col, dtype, rules)
            return F.when(col.isNotNull(), expr), veto
        raise ValueError(f"node rules applied to non-struct type {dtype.simpleString()}")

    def _conditional_node_expr(
        self,
        col: Column,
        dtype: DataType,
        rules: dict[str, object],
        cond_field: str,
        values: list[str],
    ) -> tuple[Column | None, VetoBuilder | None]:
        """Node kept only where ``cond_field`` ∈ ``values`` (null → drop).
        Arrays filter elements; structs gate the whole value."""
        if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, StructType):

            def kept(arr: Column) -> Column:
                return F.filter(arr, lambda x: x[cond_field].isin(*values))

            rebuilt, any_kept = self._elements_expr(kept(col), dtype.elementType, rules)
            veto = None if any_kept is None else (lambda arr: any_kept(kept(arr)))
            return F.when(F.size(rebuilt) > 0, rebuilt), veto
        if isinstance(dtype, StructType):

            def gate(c: Column) -> Column:
                return F.coalesce(c[cond_field].isin(*values), F.lit(False))

            expr, inner = self._struct_expr(col, dtype, rules)
            veto = None if inner is None else (lambda c: inner(c) & gate(c))
            return F.when(col.isNotNull() & gate(col), expr), veto
        raise ValueError(
            f"conditional node rules applied to non-struct type {dtype.simpleString()}"
        )

    def _struct_expr(
        self, col: Column, dtype: StructType, rules: dict[str, object]
    ) -> tuple[Column, VetoBuilder | None]:
        parts, vetoes = self._fields(col, dtype, rules)
        if not parts:
            parts = [F.lit(None).cast("string").alias("__empty__")]

        def veto(c: Column) -> Column:  # any field's builder fires
            return reduce(or_, (field_veto(c[name]) for name, field_veto in vetoes))

        return F.struct(*parts), (veto if vetoes else None)

    def _elements_expr(
        self, col: Column, elem_type: StructType, rules: dict[str, object]
    ) -> tuple[Column, VetoBuilder | None]:
        """``transform`` an array of structs, building the element once; the
        element's veto builder, kept from that build, vetoes the array when
        it fires on any element (one ``exists``)."""
        elem_veto: VetoBuilder | None = None

        def element(x: Column) -> Column:
            nonlocal elem_veto
            expr, elem_veto = self._struct_expr(x, elem_type, rules)
            return expr

        rebuilt = F.transform(col, element)
        if elem_veto is None:
            return rebuilt, None
        return rebuilt, lambda arr: F.exists(arr, elem_veto)

    # Resource types whose full rules apply inside `contained` (matches
    # the union CONTAINED schema, schemas/fhir.py). Any other contained
    # type falls back to base Resource fields only — exactly the
    # reference's behavior for types it has no config for
    # (ref scrubber.py:124-127 "just use basic resource type then").
    CONTAINED_TYPES = ("Medication", "Organization", "Patient")

    def _contained_expr(
        self, col: Column, dtype: DataType
    ) -> tuple[Column | None, VetoBuilder | None]:
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
            return None, None
        elem = dtype.elementType
        branches = {t: resolve_node(t) for t in self.CONTAINED_TYPES}
        always = resolve_node("Resource")

        plans: list[tuple[str, DataType, object, list[str] | None]] = []
        for sf in elem.fields:
            if sf.name in always:
                plans.append((sf.name, sf.dataType, always[sf.name], None))
                continue
            if sf.name == "modifierExtension":
                continue  # veto handling below; never emitted
            keepers = sorted(t for t, r in branches.items() if sf.name in r)
            if not keepers:
                continue
            plans.append((sf.name, sf.dataType, branches[keepers[0]][sf.name], keepers))

        def build(x: Column) -> Column:
            parts = []
            for name, ftype, spec, keepers in plans:
                expr, _ = self._field_expr(x[name], ftype, spec, parent=x)
                if expr is None:
                    continue
                if keepers is not None:
                    expr = F.when(x["resourceType"].isin(keepers), expr)
                parts.append(expr.alias(name))
            return F.struct(*parts)

        rebuilt = F.when(col.isNotNull(), F.transform(col, build))

        def mod_veto(x: Column) -> Column:
            unknown = _unknown_modifier(x["modifierExtension"])
            understood = x["resourceType"].isin(list(self.CONTAINED_TYPES))
            return F.coalesce(understood & unknown, F.lit(False))

        return rebuilt, lambda arr: F.coalesce(F.exists(arr, mod_veto), F.lit(False))

    def _extension_expr(self, col: Column, dtype: DataType) -> Column:
        """P10: keep only allow-listed extension URLs, preserving payloads."""
        if not isinstance(dtype, ArrayType):
            return F.lit(None).cast(dtype)
        kept = F.filter(col, lambda x: x["url"].isin(*ALLOWED_EXTENSION_URLS))
        return F.when(F.size(kept) > 0, kept)

    def _leaf_expr(
        self, col: Column, dtype: DataType, action: str, parent: Column | None
    ) -> Column | None:
        if action.startswith("check-system;"):
            # Trust gate on the sibling `system` value; `parent` is the
            # enclosing Coding struct (wired by _fields).
            sub = action.split(";", 1)[1]
            inner = self._leaf_expr(col, dtype, sub, parent=None)
            if parent is None:
                return inner
            system = parent["system"]
            code = parent["code"]
            unsafe = system.startswith(EPIC_SYSTEM_PREFIX) & ~F.coalesce(
                code.rlike(r"^[0-9.]+$"), F.lit(False)
            )
            return F.when(~F.coalesce(unsafe, F.lit(False)), inner)
        if action == "val":
            if isinstance(dtype, StringType):
                return nullif_empty(col)
            if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, StringType):
                return F.transform(col, lambda x: nullif_empty(x))
            return col
        if action == "mask":
            return F.lit(None).cast(dtype)
        if action == "mask-note":
            if self.nlp_mode:
                return nullif_empty(col) if isinstance(dtype, StringType) else col
            return F.lit(None).cast(dtype)
        if action == "anon-id":
            return anon_id(col, self.salt)
        if action == "anon-ref":
            return anon_ref(col, self.salt)
        if action == "year":
            return year_only(col)
        if action == "zip":
            return zip_generalize(col)
        if action == "philter":
            if self.philter_enabled and not self.nlp_mode:
                return philter_mask(
                    nullif_empty(col), bare_names=self.philter_bare_names
                )
            return nullif_empty(col)
        raise ValueError(f"unknown scrub action {action!r}")
