"""JSON-Schema → Spark ``StructType`` + constraint-predicate compiler.

The reference registers JSON-Schema documents with AJV, which compiles
each into a specialized validator function at registration time
(lib/kinesisHandler.js:83-84,93; ajv dep package.json:26-28).  This
module is the Spark analogue: compile ONCE on the driver into

* a ``StructType`` for ``from_json`` (structural conformance — wrong
  shape / wrong types surface as nulls), and
* a boolean ``Column`` predicate over the parsed struct (value
  constraints: required / enum / pattern / bounds — evaluated JVM-side
  inside whole-stage codegen, never per-record Python).

Schema documents follow the reference's ``self`` convention: the
registry ID is ``vendor/name/version`` (makeSchemaId,
lib/kinesisHandler.js:15-17).

Two compilation tiers (SURVEY.md §7 hard part (a)):

* **JVM fast path** — schemas using only the typed subset below compile
  to a pure ``Column`` predicate (whole-stage codegen, no Python).
  Fast-path keywords: type (object/string/number/integer/boolean/
  array), properties (nested), required, enum, pattern, minimum/
  maximum, exclusiveMinimum/exclusiveMaximum, minLength/maxLength,
  items, minItems/maxItems, const.
* **Python fallback** — schemas using draft composition keywords the
  predicate compiler cannot express (intra-document ``$ref``,
  ``oneOf``/``anyOf``/``allOf``, ``not``, ``format``, ``multipleOf``,
  ``uniqueItems``, ``dependencies``, union ``type`` lists) validate the
  RAW payload text with the ``jsonschema`` library (the Python stand-in
  for the reference's AJV, lib/kinesisHandler.js:83-84) inside an
  Arrow-batched pandas UDF — full draft fidelity at Arrow-batch cost,
  paid only on the branches that need it.  The ``StructType`` for
  ``from_json`` is still derived (refs inlined, composition branches
  field-union-merged) so routed handlers see typed columns.

``patternProperties`` (and the other validation-only object/array
keywords) ride the fallback tier too: validation has full fidelity, and
the dynamic fields they admit are simply not surfaced as typed columns
(the struct derives from static ``properties``; with none, the payload
maps to ``map<string,string>``).  Keywords outside both tiers (external
``$ref``, recursive refs) still raise at registration (fail-fast, like
a bad schema at AJV compile time).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import pandas as pd  # noqa: F401 — resolves the fallback UDF's type hints

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_handler_spark.functions.worker_tune import tuned

_SUPPORTED_KEYWORDS = {
    "type", "properties", "required", "enum", "pattern", "minimum",
    "maximum", "exclusiveMinimum", "exclusiveMaximum", "minLength",
    "maxLength", "items", "minItems", "maxItems", "const", "self",
    "$schema", "title", "description", "additionalProperties", "default",
}

_COMPOSITION_KEYWORDS = ("allOf", "anyOf", "oneOf")

# Keywords that force the jsonschema-in-pandas-UDF fallback tier.  The
# constraint-predicate compiler cannot express them, but the jsonschema
# library validates them with full draft fidelity.
_FALLBACK_KEYWORDS = {
    "$ref", "$defs", "definitions", "$id", "allOf", "anyOf", "oneOf",
    "not", "format", "multipleOf", "uniqueItems", "dependencies",
    "dependentRequired", "dependentSchemas",
    # validation-only object/array keywords: full fidelity via the
    # jsonschema fallback; fields they admit beyond `properties` are
    # validated but surface untyped (struct derives from `properties`,
    # or a string->string map when no static properties exist)
    "patternProperties", "propertyNames", "minProperties",
    "maxProperties", "contains", "minContains", "maxContains",
}

_SCALAR_TYPES = {
    "string": T.StringType(),
    "number": T.DoubleType(),
    "integer": T.LongType(),
    "boolean": T.BooleanType(),
}


class UnsupportedSchemaError(ValueError):
    """Raised at registration for JSON-Schema keywords we cannot compile
    (the engine's analogue of an AJV compile failure)."""


def make_schemaless_id(schema: dict) -> str | None:
    self_block = schema.get("self")
    if not isinstance(self_block, dict):
        return None
    try:
        return f"{self_block['vendor']}/{self_block['name']}/{self_block['version']}"
    except KeyError:
        return None


def make_schema_id(schema: dict) -> str:
    """Registry key from the schema's ``self`` block —
    ``vendor/name/version`` (reference makeSchemaId,
    lib/kinesisHandler.js:15-17)."""
    sid = make_schemaless_id(schema)
    if sid is None:
        raise ValueError("schema missing self:{vendor,name,version} block")
    return sid


@dataclass(frozen=True)
class CompiledSchema:
    schema_id: str
    struct: T.StructType
    doc: dict
    mode: str = "jvm"  # "jvm" fast path | "python" jsonschema fallback

    def predicate(self, col: Column) -> Column:
        """Boolean Column: does the parsed struct at ``col`` satisfy all
        value constraints?  Null-safe: violations and absent values both
        yield False where the schema requires presence.  JVM fast path
        only — fallback-mode schemas validate raw text, use
        ``validate``."""
        if self.mode != "jvm":
            raise UnsupportedSchemaError(
                f"{self.schema_id}: fallback-mode schema has no JVM "
                "predicate; validate() runs jsonschema on the payload"
            )
        return _predicate(self.doc, col, required=True)

    def validate(
        self,
        payload_col: Column,
        parsed_col: Column,
        variant_col: Column | None = None,
    ) -> Column:
        """Boolean validity Column for one record.

        JVM fast path: evaluates the compiled constraint predicate over
        the parsed struct at ``parsed_col`` (codegen, no Python).  When
        ``variant_col`` (the shared ``try_parse_json`` variant) is also
        given, a TYPE-FIDELITY conjunct checks each scalar-typed
        property's JSON token type — the variant→struct cast silently
        COERCES (``"99"``→99, 1.5→1, 123→"123"), so the struct alone
        cannot see JS-visible type violations the reference's AJV
        rejects (r7 hostile-payload find: a float quantity routed as a
        truncated integer).
        Python fallback: runs the full ``jsonschema`` validator over the
        raw JSON text at ``payload_col`` in an Arrow-batched pandas UDF
        (``parsed_col``/``variant_col`` unused — composition semantics
        need the exact document, not the struct projection)."""
        if self.mode == "jvm":
            base = _predicate(self.doc, parsed_col, required=True)
            if variant_col is not None:
                base = base & _type_fidelity(self.doc, variant_col)
            return base
        # Build the pandas UDF once per CompiledSchema (not once per
        # routing plan): the engine rebuilds its plan, calling validate()
        # again, after every register(), and a fresh UDF each time
        # re-ships a new closure and re-pays plan-side setup.  Frozen
        # dataclass => stash via object.__setattr__.
        udf = getattr(self, "_py_udf", None)
        if udf is None:
            udf = _jsonschema_udf(self.doc)
            object.__setattr__(self, "_py_udf", udf)
        return udf(payload_col)


def _check_keywords(doc: dict) -> None:
    unknown = set(doc) - _SUPPORTED_KEYWORDS
    if unknown:
        raise UnsupportedSchemaError(
            f"unsupported JSON-Schema keywords: {sorted(unknown)}"
        )


def _to_datatype(doc: dict) -> T.DataType:
    _check_keywords(doc)
    jtype = doc.get("type", "object")
    if jtype == "object":
        fields = []
        for name, sub in sorted(doc.get("properties", {}).items()):
            fields.append(T.StructField(name, _to_datatype(sub), nullable=True))
        if not fields:
            # free-form object: keep raw JSON text of the subtree
            return T.MapType(T.StringType(), T.StringType())
        return T.StructType(fields)
    if jtype == "array":
        item_doc = doc.get("items", {"type": "string"})
        return T.ArrayType(_to_datatype(item_doc))
    if jtype in _SCALAR_TYPES:
        return _SCALAR_TYPES[jtype]
    raise UnsupportedSchemaError(f"unsupported type {jtype!r}")


def _scalar_constraints(doc: dict, col: Column) -> list[Column]:
    preds: list[Column] = []
    if "enum" in doc:
        preds.append(col.isin(*doc["enum"]))
    if "const" in doc:
        preds.append(col == F.lit(doc["const"]))
    if "pattern" in doc:
        # JSON-Schema pattern is unanchored; rlike is unanchored too.
        preds.append(col.rlike(doc["pattern"]))
    # Numeric bounds: exclusiveMinimum/Maximum have TWO spec forms —
    # draft-4 (the reference's AJV draft) uses a BOOLEAN that modifies
    # minimum/maximum; draft-6+ uses a standalone number.  Compiling the
    # boolean as a numeric bound would emit `col > lit(True)` and kill
    # the first micro-batch with an AnalysisException.
    mn, ex_mn = doc.get("minimum"), doc.get("exclusiveMinimum")
    if isinstance(ex_mn, bool):  # draft-4 modifier
        if mn is not None:
            preds.append(col > F.lit(mn) if ex_mn else col >= F.lit(mn))
    else:
        if ex_mn is not None:
            preds.append(col > F.lit(ex_mn))
        if mn is not None:
            preds.append(col >= F.lit(mn))
    mx, ex_mx = doc.get("maximum"), doc.get("exclusiveMaximum")
    if isinstance(ex_mx, bool):  # draft-4 modifier
        if mx is not None:
            preds.append(col < F.lit(mx) if ex_mx else col <= F.lit(mx))
    else:
        if ex_mx is not None:
            preds.append(col < F.lit(ex_mx))
        if mx is not None:
            preds.append(col <= F.lit(mx))
    if "minLength" in doc:
        preds.append(F.length(col) >= F.lit(doc["minLength"]))
    if "maxLength" in doc:
        preds.append(F.length(col) <= F.lit(doc["maxLength"]))
    return preds


_IDENT_RE = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _variant_path(components: tuple[str, ...]) -> str:
    """Variant extraction path for a nested property — dot form for
    bare identifiers, bracket-quoted otherwise (verified on Spark 4.1:
    ``$['content-type']`` resolves).  Names containing a single quote
    cannot be bracket-escaped; ``_needs_fallback`` routes such schemas
    to the jsonschema tier before this is ever called."""
    out = "$"
    for name in components:
        out += f".{name}" if _IDENT_RE.match(name) else f"['{name}']"
    return out


def _scalar_paths(doc: dict, prefix: tuple[str, ...] = ()):
    """Yield (path_components, jtype) for every scalar-typed property
    reachable through nested objects.  Array ITEM types are excluded —
    variant paths cannot quantify over elements; item values keep the
    struct-cast coercion semantics (documented limitation)."""
    jtype = doc.get("type", "object")
    if jtype == "object":
        for name, sub in doc.get("properties", {}).items():
            yield from _scalar_paths(sub, prefix + (name,))
    elif jtype in _SCALAR_TYPES and prefix:
        yield prefix, jtype


def _type_fidelity(doc: dict, variant_col: Column) -> Column:
    """JS-faithful JSON-token type checks over the shared variant.

    The struct cast coerces across types, so these run on the variant's
    own type tags (``schema_of_variant`` per extracted field):

    * string  → token must be STRING (123 must not coerce to "123");
    * boolean → token must be BOOLEAN;
    * number  → token must be numeric (BIGINT/DOUBLE/DECIMAL — a quoted
      "1.5" is a type violation even though it casts);
    * integer → numeric AND integral AND int64-representable, checked
      as bigint-extraction non-null and double-equal (1.0 is integer —
      AJV's ``Number.isInteger`` semantics — 1.5, 1e400, and 2^64 are
      not; beyond-int64 integrals are rejected as unrepresentable in
      the routed struct, stricter than JS where noted in SCALE.md).

    JSON ``null`` and absent fields are NOT type violations here — the
    presence/required logic in ``_predicate`` owns null semantics."""
    checks: list[Column] = []
    numeric_types = ("BIGINT", "DOUBLE")
    for components, jtype in _scalar_paths(doc):
        path = _variant_path(components)
        tv = F.try_variant_get(variant_col, path, "variant")
        st = F.schema_of_variant(tv)
        if jtype == "string":
            ok = st == "STRING"
        elif jtype == "boolean":
            ok = st == "BOOLEAN"
        else:
            ok = st.isin(*numeric_types) | st.startswith("DECIMAL")
            if jtype == "integer":
                lv = F.try_variant_get(variant_col, path, "bigint")
                dv = F.try_variant_get(variant_col, path, "double")
                ok = ok & lv.isNotNull() & (lv.cast("double") == dv)
        checks.append(
            F.when(tv.isNull() | (st == "VOID"), F.lit(True)).otherwise(
                F.coalesce(ok, F.lit(False))
            )
        )
    return reduce(lambda a, b: a & b, checks, F.lit(True))


def _predicate(doc: dict, col: Column, required: bool) -> Column:
    """Constraint predicate for one schema node over its parsed column."""
    jtype = doc.get("type", "object")
    preds: list[Column] = []
    if jtype == "object":
        props = doc.get("properties", {})
        required_names = set(doc.get("required", []))
        for name, sub in props.items():
            preds.append(_predicate(sub, col.getField(name), name in required_names))
        if required_names - set(props):
            for name in sorted(required_names - set(props)):
                # required but untyped: can't project it; structural parse
                # would need the field in the struct — treat as error.
                raise UnsupportedSchemaError(
                    f"required property {name!r} missing from properties"
                )
        node_ok = reduce(lambda a, b: a & b, preds, F.lit(True))
        presence = col.isNotNull()
    elif jtype == "array":
        item_doc = doc.get("items")
        preds = []
        if "minItems" in doc:
            preds.append(F.size(col) >= F.lit(doc["minItems"]))
        if "maxItems" in doc:
            preds.append(F.size(col) <= F.lit(doc["maxItems"]))
        if item_doc and set(item_doc) & {
            "enum", "pattern", "minimum", "maximum", "const",
            "exclusiveMinimum", "exclusiveMaximum", "minLength", "maxLength",
            # object-typed items: required/properties recurse through
            # _predicate over each element (getField works inside forall)
            "required", "properties", "minItems", "maxItems",
        }:
            preds.append(
                F.forall(col, lambda x: _predicate(item_doc, x, required=True))
            )
        node_ok = reduce(lambda a, b: a & b, preds, F.lit(True))
        presence = col.isNotNull()
    else:
        preds = _scalar_constraints(doc, col)
        node_ok = reduce(lambda a, b: a & b, preds, F.lit(True))
        presence = col.isNotNull()

    if required:
        return presence & F.coalesce(node_ok, F.lit(False))
    # optional: absent is fine; present must satisfy constraints
    return ~presence | F.coalesce(node_ok, F.lit(False))


# ---------------------------------------------------------------------------
# Python fallback tier: jsonschema-in-pandas-UDF for composition keywords
# ---------------------------------------------------------------------------


def _walk_schema(doc: dict):
    """Yield every schema NODE in a document — schema-aware, so property
    NAMES (keys under ``properties``/``$defs``) are never mistaken for
    keywords."""
    yield doc
    for key in ("properties", "$defs", "definitions"):
        sub = doc.get(key)
        if isinstance(sub, dict):
            for child in sub.values():
                if isinstance(child, dict):
                    yield from _walk_schema(child)
    for map_key in ("patternProperties", "dependencies", "dependentSchemas"):
        sub = doc.get(map_key)
        if isinstance(sub, dict):
            # patternProperties keys are REGEXES; dependencies values may
            # be property-name LISTS (skipped) or subschemas (walked)
            for child in sub.values():
                if isinstance(child, dict):
                    yield from _walk_schema(child)
    items = doc.get("items")
    if isinstance(items, list):  # draft-4 tuple form: one schema per slot
        for child in items:
            if isinstance(child, dict):
                yield from _walk_schema(child)
    for key in ("items", "not", "additionalProperties", "propertyNames",
                "contains"):
        child = doc.get(key)
        if isinstance(child, dict):
            yield from _walk_schema(child)
    for key in _COMPOSITION_KEYWORDS:
        for child in doc.get(key) or ():
            if isinstance(child, dict):
                yield from _walk_schema(child)


def _needs_fallback(doc: dict) -> bool:
    for node in _walk_schema(doc):
        if set(node) & _FALLBACK_KEYWORDS:
            return True
        if isinstance(node.get("type"), list):  # union type, e.g. ["string","null"]
            return True
        if isinstance(node.get("items"), list):  # draft-4 tuple form
            return True
        # additionalProperties:false (or a schema) is a CONSTRAINT the
        # JVM predicate cannot see — from_json silently drops unknown
        # fields, so extra-property violations are invisible post-parse.
        # Only the jsonschema fallback over raw text can enforce it;
        # absent or `true` means unconstrained and stays fast-path.
        if node.get("additionalProperties") not in (None, True):
            return True
        # A property NAME containing a single quote cannot be expressed
        # as a variant extraction path for the type-fidelity conjunct —
        # the jsonschema tier validates such documents with full
        # fidelity instead.
        props = node.get("properties")
        if isinstance(props, dict) and any("'" in name for name in props):
            return True
    return False


def _check_fallback_keywords(doc: dict) -> None:
    """Fail fast on keywords outside BOTH tiers (external $ref,
    patternProperties, ...) — the AJV-compile-failure analogue."""
    allowed = _SUPPORTED_KEYWORDS | _FALLBACK_KEYWORDS
    for node in _walk_schema(doc):
        unknown = set(node) - allowed
        if unknown:
            raise UnsupportedSchemaError(
                f"unsupported JSON-Schema keywords: {sorted(unknown)}"
            )
        ref = node.get("$ref")
        if ref is not None and not (isinstance(ref, str) and ref.startswith("#")):
            raise UnsupportedSchemaError(
                f"only intra-document $ref supported, got {ref!r}"
            )


def _deref(root: dict, ref: str) -> dict:
    """Resolve an intra-document JSON-pointer ``$ref`` (``#/a/b``)."""
    node = root
    pointer = ref[1:]
    if pointer and not pointer.startswith("/"):
        raise UnsupportedSchemaError(f"unsupported $ref form {ref!r}")
    try:
        for part in pointer.lstrip("/").split("/") if pointer else ():
            part = part.replace("~1", "/").replace("~0", "~")
            node = node[int(part)] if isinstance(node, list) else node[part]
    except (KeyError, IndexError, ValueError, TypeError):
        raise UnsupportedSchemaError(f"$ref target not found: {ref!r}") from None
    if not isinstance(node, dict):
        raise UnsupportedSchemaError(f"$ref target is not a schema: {ref!r}")
    return node


def _merge_datatypes(types: list[T.DataType]) -> T.DataType:
    """Union-merge the datatypes of composition branches into the widest
    struct a router handler can use.  Validation correctness never
    depends on this — the fallback validates raw text — so conflicts
    widen (scalar clash → string; from_json reads any atom as text)
    instead of failing registration."""
    structs = [t for t in types if isinstance(t, T.StructType)]
    if structs:
        fields: dict[str, T.DataType] = {}
        for st in structs:
            for f in st.fields:
                if f.name in fields:
                    fields[f.name] = _merge_datatypes([fields[f.name], f.dataType])
                else:
                    fields[f.name] = f.dataType
        return T.StructType(
            [T.StructField(n, dt, True) for n, dt in sorted(fields.items())]
        )
    arrays = [t for t in types if isinstance(t, T.ArrayType)]
    if arrays:
        if len(arrays) < len(types):
            return T.StringType()
        return T.ArrayType(_merge_datatypes([a.elementType for a in arrays]))
    maps = [t for t in types if isinstance(t, T.MapType)]
    if maps:
        return maps[0] if len(maps) == len(types) else T.StringType()
    if all(t == types[0] for t in types):
        return types[0]
    if {t.simpleString() for t in types} == {"bigint", "double"}:
        return T.DoubleType()
    return T.StringType()


def _fallback_datatype(doc: dict, root: dict, stack: tuple = ()) -> T.DataType:
    """StructType derivation for the fallback tier: inline intra-document
    refs (cycles raise — StructType cannot express recursion), then
    field-union-merge composition branches with the node's own shape."""
    if "$ref" in doc:
        ref = doc["$ref"]
        if ref in stack:
            raise UnsupportedSchemaError(
                f"recursive $ref {ref!r} cannot map to a StructType"
            )
        target = _deref(root, ref)
        merged = {**target, **{k: v for k, v in doc.items() if k != "$ref"}}
        return _fallback_datatype(merged, root, stack + (ref,))
    branches = [
        b for kw in _COMPOSITION_KEYWORDS for b in doc.get(kw) or ()
        if isinstance(b, dict)
    ]
    own = {k: v for k, v in doc.items() if k not in _COMPOSITION_KEYWORDS}
    types: list[T.DataType] = []
    if "type" in own or "properties" in own or "items" in own:
        types.append(_own_fallback_datatype(own, root, stack))
    types.extend(_fallback_datatype(b, root, stack) for b in branches)
    if not types:
        return T.MapType(T.StringType(), T.StringType())
    return _merge_datatypes(types)


def _own_fallback_datatype(doc: dict, root: dict, stack: tuple) -> T.DataType:
    jtype = doc.get("type", "object")
    if isinstance(jtype, list):
        non_null = [t for t in jtype if t != "null"]
        if len(non_null) == 1:
            jtype = non_null[0]
        else:
            return T.StringType()
    if jtype == "object":
        fields = [
            T.StructField(name, _fallback_datatype(sub, root, stack), True)
            for name, sub in sorted(doc.get("properties", {}).items())
        ]
        if not fields:
            return T.MapType(T.StringType(), T.StringType())
        return T.StructType(fields)
    if jtype == "array":
        item_doc = doc.get("items", {"type": "string"})
        if isinstance(item_doc, list):  # tuple form: merge the slots
            slots = [
                _fallback_datatype(d, root, stack)
                for d in item_doc
                if isinstance(d, dict)
            ]
            return T.ArrayType(
                _merge_datatypes(slots) if slots else T.StringType()
            )
        return T.ArrayType(_fallback_datatype(item_doc, root, stack))
    if jtype in _SCALAR_TYPES:
        return _SCALAR_TYPES[jtype]
    raise UnsupportedSchemaError(f"unsupported type {jtype!r}")


def _jsonschema_udf(doc: dict):
    """Arrow-batched validator over raw JSON text.  The jsonschema
    validator (draft picked from ``$schema``; the reference's AJV is
    draft-04) compiles ONCE per Python worker process — ``holder`` is an
    empty closure cell at ship time and each worker fills it on first
    batch, then reuses it for every subsequent batch.  ``format`` is
    asserted (FORMAT_CHECKER), matching AJV's draft-04 default."""
    from pyspark.sql.functions import pandas_udf

    clean = {k: v for k, v in doc.items() if k != "self"}
    holder: list = []

    @pandas_udf("boolean")
    @tuned
    def _validate(payloads: pd.Series) -> pd.Series:
        import json

        if not holder:
            import jsonschema

            cls = jsonschema.validators.validator_for(clean)
            cls.check_schema(clean)
            holder.append(cls(clean, format_checker=cls.FORMAT_CHECKER))
        validator = holder[0]

        def ok(s):
            if s is None:
                return False
            try:
                obj = json.loads(s)
            except ValueError:
                return False
            return validator.is_valid(obj)

        return payloads.map(ok)

    return _validate


def compile_schema(doc: dict) -> CompiledSchema:
    """Compile a JSON-Schema document (with ``self`` ID block) into a
    CompiledSchema.  Schemas inside the typed subset get the JVM
    fast path; composition schemas ($ref/oneOf/anyOf/allOf/format/...)
    get the jsonschema-in-pandas-UDF fallback tier.  Keywords outside
    both tiers raise UnsupportedSchemaError — at registration time, not
    per record."""
    schema_id = make_schema_id(doc)
    if _needs_fallback(doc):
        _check_fallback_keywords(doc)
        struct = _fallback_datatype(doc, doc)
        if not isinstance(struct, T.StructType):
            raise UnsupportedSchemaError("top-level schema must be an object")
        return CompiledSchema(
            schema_id=schema_id, struct=struct, doc=doc, mode="python"
        )
    struct = _to_datatype(doc)
    if not isinstance(struct, T.StructType):
        raise UnsupportedSchemaError("top-level schema must be an object")
    return CompiledSchema(schema_id=schema_id, struct=struct, doc=doc)
