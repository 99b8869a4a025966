"""ValidateJson (§2.3 [2.7.2-surface]: validate raw JSON documents
against a JSON Schema, route valid/invalid with the first violation).

A JSON-Schema SUBSET compiles to predicates in ONE traversal that emits
BOTH backends — Spark SQL text over the variant encoding
(``try_parse_json`` + ``try_variant_get`` + ``schema_of_variant``) and
the equivalent DuckDB SQL over ``json_type``/``json_extract`` — so the
oracle checks the pipeline, not two independent validator
implementations agreeing by luck.  The SQL backend is generated without
touching the Spark session (oracle strings are built at registry import
time, before any SparkContext exists).

Supported keywords (the record-validation core): ``type`` (object,
array, string, number, integer, boolean, null), ``required``,
``properties`` (recursive), ``enum`` (strings), ``minimum``/``maximum``,
``exclusiveMinimum``/``exclusiveMaximum``, ``multipleOf``, ``const``
(string/number, with an implied type check), ``uniqueItems``,
``minLength``/``maxLength``, ``pattern``, ``minItems``/``maxItems``.

Composition keywords (round 7): local ``$ref`` (``#/$defs/...`` /
``#/definitions/...``, depth-capped against recursive definitions),
``allOf`` (conjunctive inline), ``anyOf``/``oneOf`` (each branch
compiles to an AND-group; the composite is one rule — OR across groups,
or exactly-one for ``oneOf``), and per-element ``items`` when the array
also carries ``maxItems`` (variant/JSON paths are literal, so item
checks compile per bounded index — spec-exact because longer arrays
fail ``maxItems`` anyway).  Unbounded ``items`` raises (documented).

Semantics notes:
- ``integer`` means zero-fractional-part number (draft 2020-12): Spark's
  variant canonicalizes ``1.0`` to DECIMAL(1,0) and the DuckDB side
  mirrors with ``floor(x) = x`` on DOUBLE.
- keyword checks are vacuous on the wrong type (spec behavior): e.g.
  ``minimum`` passes for strings; ``required`` inside a nested object
  applies only when that object exists and is an object.
- validation order is schema-document order, so "first error" is
  deterministic and engine-identical.
- well-formedness on the Spark side is variant leniency: a LEADING valid
  JSON value parses even with trailing garbage (Spark's try_parse_json),
  where DuckDB's TRY_CAST rejects the whole document — keep malformed
  fixtures structural (truncation) if oracle parity matters.

Scale: map-only column expressions, no UDF, no shuffle — validation of
100 TB of raw JSON runs at scan bandwidth inside whole-stage codegen.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from apache_nifi_spark.sqltext import ident, lit, projection

__all__ = ["json_schema_sql", "validate_json"]

#: JSON types a ``type:`` keyword may name.
_TYPES = {"object", "array", "string", "number", "integer", "boolean", "null"}


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class _Rule:
    """One compiled check: label + an ok-predicate per backend.  The
    Spark side is a thunk because it registers the staged columns it
    reads, which SQL-only compilation has no builder for."""

    __slots__ = ("label", "ok_spark", "ok_sql")

    def __init__(self, label: str, ok_spark: Callable[[], str] | None, ok_sql: str):
        self.label = label
        self.ok_spark = ok_spark
        self.ok_sql = ok_sql


def _canon_sql(doc: str, path: str) -> str:
    """Canonical JSON type name of a field (DuckDB backend)."""
    jt = f"json_type({doc}, {_sql_quote(path)})"
    num = f"TRY_CAST(json_extract({doc}, {_sql_quote(path)}) AS DOUBLE)"
    return f"""(CASE
        WHEN {jt} IS NULL THEN 'missing'
        WHEN {jt} = 'NULL' THEN 'null'
        WHEN {jt} IN ('BIGINT', 'UBIGINT') THEN 'integer'
        WHEN {jt} = 'DOUBLE' THEN CASE WHEN floor({num}) = {num}
                                       THEN 'integer' ELSE 'number' END
        WHEN {jt} = 'VARCHAR' THEN 'string'
        WHEN {jt} = 'BOOLEAN' THEN 'boolean'
        WHEN {jt} = 'ARRAY' THEN 'array'
        ELSE 'object' END)"""


#: a variant's schema string for an integral decimal (``DECIMAL(p,0)``)
_DECIMAL_0 = lit(r"^DECIMAL\(\d+,0\)$")


class _SparkSide:
    """Spark SQL text builders over the parsed document ``_jsroot``.

    Every shared subexpression — each path's variant/canonical-type/string
    value — REGISTERS as a named column instead of inlining, and the
    caller stages those registrations as real projections.  Variant
    functions don't whole-stage-codegen, so Spark's subexpression
    elimination never dedupes them; without the staging, a 20-rule schema
    re-parses the document dozens of times per row (measured 8.8 s → 0.6 s
    at sf0.1 for the registry fixture).  Multiply-referenced non-cheap
    aliases also stop CollapseProject from re-inlining them."""

    def __init__(self):
        #: registration stages: name -> SQL expression, in dependency order
        self.var_regs: dict[str, str] = {}
        self.type_regs: dict[str, str] = {}
        self.derived_regs: dict[str, str] = {}
        self._var_names: dict[str, str] = {}
        self._canon_names: dict[str, str] = {}
        self._str_names: dict[str, str] = {}

    def var(self, path: str) -> str:
        name = self._var_names.get(path)
        if name is None:
            name = f"_v{len(self._var_names)}"
            self._var_names[path] = name
            self.var_regs[name] = f"try_variant_get(_jsroot, {lit(path)}, 'variant')"
        return name

    def _vtype(self, path: str) -> str:
        """The variant's schema string, staged once per path —
        schema_of_variant walks the variant binary on every call, and a
        canon CASE references the type seven times."""
        var = self.var(path)  # ensures registration + stable name
        name = f"_t{var[2:]}"
        self.type_regs.setdefault(name, f"schema_of_variant({var})")
        return name

    def canon(self, path: str) -> str:
        name = self._canon_names.get(path)
        if name is None:
            var = self.var(path)
            t = self._vtype(path)
            name = f"_c{len(self._canon_names)}"
            self._canon_names[path] = name
            self.derived_regs[name] = (
                f"CASE WHEN {var} IS NULL THEN 'missing'"
                f" WHEN is_variant_null({var}) THEN 'null'"
                f" WHEN {t} = 'BIGINT' THEN 'integer'"
                f" WHEN {t} RLIKE {_DECIMAL_0} THEN 'integer'"
                f" WHEN startswith({t}, 'DECIMAL') OR {t} = 'DOUBLE' THEN 'number'"
                f" WHEN {t} = 'STRING' THEN 'string'"
                f" WHEN {t} = 'BOOLEAN' THEN 'boolean'"
                f" WHEN startswith({t}, 'ARRAY') THEN 'array'"
                " ELSE 'object' END"
            )
        return name

    def num(self, path: str) -> str:
        return (
            f"CASE WHEN {self.canon(path)} IN ('integer', 'number')"
            f" THEN try_variant_get(_jsroot, {lit(path)}, 'double') END"
        )

    def s(self, path: str) -> str:
        name = self._str_names.get(path)
        if name is None:
            name = f"_s{len(self._str_names)}"
            self._str_names[path] = name
            self.var_regs[name] = f"try_variant_get(_jsroot, {lit(path)}, 'string')"
        return name

    def arr_len(self, path: str) -> str:
        return (
            f"json_array_length(CASE WHEN {self.canon(path)} = 'array'"
            f" THEN to_json({self.var(path)}) END)"
        )


def _is_or_missing(canon: str, accepted: tuple[str, ...]) -> str:
    return f"({canon} IN ({', '.join(map(lit, accepted))}) OR {canon} = 'missing')"


def _off_type(sp: _SparkSide, path: str, typ: str, ok: str) -> str:
    """``ok``, vacuous unless the value at ``path`` has JSON type ``typ``."""
    return f"({sp.canon(path)} != {lit(typ)} OR {ok})"


def _off_number(sp: _SparkSide, path: str, ok: str) -> str:
    """``ok``, vacuous unless the value at ``path`` is a number."""
    return f"(NOT ({sp.canon(path)} IN ('integer', 'number')) OR {ok})"


def _resolve_ref(root: dict, ref: str) -> dict:
    """Local JSON-pointer ``$ref`` (``#/$defs/x``, ``#/definitions/x``)."""
    if not ref.startswith("#/"):
        raise ValueError(f"only local '#/' $refs supported, got {ref!r}")
    node: object = root
    for seg in ref[2:].split("/"):
        seg = seg.replace("~1", "/").replace("~0", "~")
        if not isinstance(node, dict) or seg not in node:
            raise ValueError(f"unresolvable $ref {ref!r} at segment {seg!r}")
        node = node[seg]
    if not isinstance(node, dict):
        raise ValueError(f"$ref {ref!r} must point at a schema object")
    return node


def _compile(
    schema: dict,
    sp: _SparkSide | None,
    doc_sql: str,
    path: str,
    rules: list[_Rule],
    root: dict | None = None,
    depth: int = 0,
) -> None:
    root = root if root is not None else schema
    if depth > 32:
        raise ValueError("schema nesting/$ref depth exceeds 32 (recursive $ref?)")
    canon_sql = _canon_sql(doc_sql, path)
    qp = _sql_quote(path)
    num_sql = (
        f"(CASE WHEN {canon_sql} IN ('integer', 'number')"
        f" THEN TRY_CAST(json_extract({doc_sql}, {qp}) AS DOUBLE) END)"
    )
    str_sql = f"json_extract_string({doc_sql}, {qp})"
    is_str_sql = f"{canon_sql} = 'string'"
    arr_len_sql = (
        f"(CASE WHEN {canon_sql} = 'array'"
        f" THEN json_array_length({doc_sql}, {qp}) END)"
    )

    def add(label: str, spark_thunk: Callable[[], str] | None, sql: str) -> None:
        rules.append(_Rule(f"{label}:{path}", spark_thunk if sp else None, sql))

    # --- composition: $ref / allOf apply in place (draft 2020-12 keeps
    # sibling keywords alongside, so these simply prepend their rules)
    if "$ref" in schema:
        _compile(
            _resolve_ref(root, schema["$ref"]), sp, doc_sql, path, rules, root, depth + 1
        )
    for sub in schema.get("allOf", ()):
        _compile(sub, sp, doc_sql, path, rules, root, depth + 1)

    typ = schema.get("type")
    if typ is not None:
        if typ not in _TYPES:
            raise ValueError(f"unsupported type {typ!r} at {path}")
        accepted = sorted({"integer", "number"} if typ == "number" else {typ})
        add(
            "type",
            lambda accepted=tuple(accepted): _is_or_missing(sp.canon(path), accepted),
            f"({canon_sql} IN ({', '.join(_sql_quote(a) for a in accepted)})"
            f" OR {canon_sql} = 'missing')",
        )

    for name in schema.get("required", ()):
        sub = f"{path}.{name}" if path != "$" else f"$.{name}"
        # present = key exists (a JSON null VALUE still counts as
        # present); vacuous unless this node exists and is an object.
        rules.append(
            _Rule(
                f"required:{sub}",
                (lambda sub=sub: f"({sp.canon(path)} != 'object' OR {sp.var(sub)} IS NOT NULL)")
                if sp
                else None,
                f"({canon_sql} <> 'object'"
                f" OR json_type({doc_sql}, {_sql_quote(sub)}) IS NOT NULL)",
            )
        )

    if "minimum" in schema:
        m = float(schema["minimum"])
        add(
            "minimum",
            lambda m=m: _off_number(sp, path, f"{sp.num(path)} >= {lit(m)}"),
            f"({canon_sql} NOT IN ('integer', 'number') OR {num_sql} >= {m})",
        )
    if "maximum" in schema:
        m = float(schema["maximum"])
        add(
            "maximum",
            lambda m=m: _off_number(sp, path, f"{sp.num(path)} <= {lit(m)}"),
            f"({canon_sql} NOT IN ('integer', 'number') OR {num_sql} <= {m})",
        )
    if "exclusiveMinimum" in schema:
        m = float(schema["exclusiveMinimum"])
        add(
            "exclusiveMinimum",
            lambda m=m: _off_number(sp, path, f"{sp.num(path)} > {lit(m)}"),
            f"({canon_sql} NOT IN ('integer', 'number') OR {num_sql} > {m})",
        )
    if "exclusiveMaximum" in schema:
        m = float(schema["exclusiveMaximum"])
        add(
            "exclusiveMaximum",
            lambda m=m: _off_number(sp, path, f"{sp.num(path)} < {lit(m)}"),
            f"({canon_sql} NOT IN ('integer', 'number') OR {num_sql} < {m})",
        )
    if "multipleOf" in schema:
        m = float(schema["multipleOf"])
        if m <= 0:
            raise ValueError(f"multipleOf at {path}: must be > 0")
        # draft 2020-12: value / m is an integer; fmod==0 is the exact
        # check both engines share (the common integral-divisor case)
        add(
            "multipleOf",
            lambda m=m: _off_number(sp, path, f"{sp.num(path)} % {lit(m)} = 0.0D"),
            f"({canon_sql} NOT IN ('integer', 'number') OR fmod({num_sql}, {m}) = 0)",
        )
    if "const" in schema:
        cv = schema["const"]
        if isinstance(cv, str):
            add(
                "const",
                lambda cv=cv: _off_type(sp, path, "string", f"{sp.s(path)} = {lit(cv)}"),
                f"(NOT {is_str_sql} OR {str_sql} = {_sql_quote(cv)})",
            )
        elif isinstance(cv, bool) or not isinstance(cv, (int, float)):
            raise ValueError(f"const at {path}: only string/number consts supported")
        else:
            add(
                "const",
                lambda cv=float(cv): _off_number(sp, path, f"{sp.num(path)} = {lit(cv)}"),
                f"({canon_sql} NOT IN ('integer', 'number')"
                f" OR {num_sql} = {float(cv)})",
            )
        # const also implies the TYPE must match (a const can't be
        # vacuous on the wrong present type, unlike range keywords)
        expected = "string" if isinstance(cv, str) else "number"
        accepted = ("string",) if expected == "string" else ("integer", "number")
        add(
            "const-type",
            lambda accepted=accepted: _is_or_missing(sp.canon(path), accepted),
            f"({canon_sql} IN ({', '.join(_sql_quote(a) for a in accepted)})"
            f" OR {canon_sql} = 'missing')",
        )
    if schema.get("uniqueItems"):
        # vacuous off-array; distinct-count vs length over the CANONICAL
        # JSON text of each element ('"1"' and '1' stay distinct — an
        # array<string> parse would conflate them)
        add(
            "uniqueItems",
            lambda: _off_type(
                sp, path, "array",
                "size(array_distinct(transform(from_json("
                f"to_json({sp.var(path)}), 'array<variant>'), v -> to_json(v))))"
                f" = {sp.arr_len(path)}",
            ),
            f"({canon_sql} <> 'array' OR"
            f" len(list_distinct(CAST(json_extract({doc_sql}, {qp})"
            f" AS JSON[]))) = {arr_len_sql})",
        )
    if "minLength" in schema:
        n = int(schema["minLength"])
        add(
            "minLength",
            lambda n=n: _off_type(sp, path, "string", f"length({sp.s(path)}) >= {n}"),
            f"(NOT {is_str_sql} OR length({str_sql}) >= {n})",
        )
    if "maxLength" in schema:
        n = int(schema["maxLength"])
        add(
            "maxLength",
            lambda n=n: _off_type(sp, path, "string", f"length({sp.s(path)}) <= {n}"),
            f"(NOT {is_str_sql} OR length({str_sql}) <= {n})",
        )
    if "pattern" in schema:
        pat = schema["pattern"]
        add(
            "pattern",
            lambda pat=pat: _off_type(sp, path, "string", f"{sp.s(path)} RLIKE {lit(pat)}"),
            f"(NOT {is_str_sql} OR regexp_matches({str_sql}, {_sql_quote(pat)}))",
        )
    if "enum" in schema:
        vals = schema["enum"]
        if not all(isinstance(v, str) for v in vals):
            raise ValueError(f"enum at {path}: only string enums supported")
        add(
            "enum",
            lambda vals=tuple(vals): _off_type(
                sp, path, "string", f"{sp.s(path)} IN ({', '.join(map(lit, vals))})"
            ),
            f"(NOT {is_str_sql} OR {str_sql} IN"
            f" ({', '.join(_sql_quote(v) for v in vals)}))",
        )
    if "minItems" in schema:
        n = int(schema["minItems"])
        add(
            "minItems",
            lambda n=n: _off_type(sp, path, "array", f"{sp.arr_len(path)} >= {n}"),
            f"({canon_sql} <> 'array' OR {arr_len_sql} >= {n})",
        )
    if "maxItems" in schema:
        n = int(schema["maxItems"])
        add(
            "maxItems",
            lambda n=n: _off_type(sp, path, "array", f"{sp.arr_len(path)} <= {n}"),
            f"({canon_sql} <> 'array' OR {arr_len_sql} <= {n})",
        )
    if "items" in schema:
        # Per-element schemas compile per bounded index (variant/JSON
        # paths are literal).  Spec-exact when maxItems bounds the array:
        # indexes past the actual length are 'missing' → every item
        # check is vacuous there, and longer arrays fail maxItems.
        if "maxItems" not in schema:
            raise ValueError(
                f"items at {path}: requires a sibling maxItems bound "
                "(literal-index compilation; documented subset)"
            )
        for i in range(int(schema["maxItems"])):
            _compile(
                schema["items"], sp, doc_sql, f"{path}[{i}]", rules, root, depth + 1
            )

    for kw in ("anyOf", "oneOf"):
        if kw not in schema:
            continue
        branches: list[list[_Rule]] = []
        for sub in schema[kw]:
            sub_rules: list[_Rule] = []
            _compile(sub, sp, doc_sql, path, sub_rules, root, depth + 1)
            branches.append(sub_rules)

        def branch_sql(sub_rules: list[_Rule]) -> str:
            return " AND ".join(r.ok_spark() for r in sub_rules) or "TRUE"

        def combined(branches=branches, kw=kw) -> str:
            # vacuous when the location doesn't exist (spec: validation
            # applies to existing instances only — without this, a
            # missing field would fail oneOf because several type-only
            # branches pass vacuously)
            vac = f"{sp.canon(path)} = 'missing'"
            groups = [f"({branch_sql(b)})" for b in branches]
            if kw == "anyOf":
                return f"({vac} OR ({' OR '.join(groups)}))"
            total = " + ".join(f"CAST({g} AS INT)" for g in groups)
            return f"({vac} OR ({total}) = 1)"

        group_sqls = [
            "(" + (" AND ".join(r.ok_sql for r in b) if b else "TRUE") + ")"
            for b in branches
        ]
        if kw == "anyOf":
            sql = "(" + " OR ".join(group_sqls) + ")"
        else:
            sql = (
                "(("
                + " + ".join(f"CAST({g} AS INT)" for g in group_sqls)
                + ") = 1)"
            )
        add(kw, combined, f"({canon_sql} = 'missing' OR {sql})")

    for name, sub_schema in schema.get("properties", {}).items():
        sub = f"{path}.{name}" if path != "$" else f"$.{name}"
        _compile(sub_schema, sp, doc_sql, sub, rules, root, depth + 1)


def json_schema_sql(schema: dict, doc_sql: str) -> tuple[str, str]:
    """DuckDB backend only: ``(valid_sql, error_sql)`` over ``doc_sql``.
    Safe to call with no SparkContext (registry oracles are built at
    import time)."""
    rules: list[_Rule] = []
    # All field accesses go through the TRY_CAST so malformed documents
    # yield SQL NULLs ('missing' everywhere) instead of a hard
    # Malformed JSON error — DuckDB's json_type throws on raw text.
    jdoc = f"TRY_CAST({doc_sql} AS JSON)"
    _compile(schema, None, jdoc, "$", rules)
    well_sql = f"({jdoc} IS NOT NULL)"
    valid_sql = " AND ".join([well_sql] + [r.ok_sql for r in rules])
    err_parts = [f"WHEN NOT {well_sql} THEN 'malformed'"] + [
        f"WHEN NOT {r.ok_sql} THEN {_sql_quote(r.label)}" for r in rules
    ]
    return f"({valid_sql})", "(CASE " + " ".join(err_parts) + " ELSE NULL END)"


#: A non-deterministic, ALWAYS-TRUE boolean term.
#:
#: Why it exists: Catalyst's ``PushPredicateThroughNonJoin`` pushes a
#: downstream ``Filter`` through a ``Project`` by substituting every
#: referenced alias into the filter condition — *without* the
#: duplicate-expensive-expression guard that ``CollapseProject`` has.
#: A consumer doing ``validate_json(df, s).filter("valid")`` therefore
#: used to get the whole staged rule pipeline re-inlined into ONE
#: filter predicate: the executed plan held ~75 copies of the JSON
#: parse per row, all interpreted (variant expressions don't
#: whole-stage-codegen) — measured 24 s for 100k rows at sf0.1 vs
#: ~0.6 s with staging intact.
#:
#: The fence blocks that: the pushdown rule requires
#: ``fields.forall(_.deterministic)`` on the Project, so one
#: non-deterministic field pins every downstream filter above the
#: staged projections.  ``spark_partition_id() >= -1`` is always true
#: (partition ids are non-negative) and survives the optimizer —
#: unlike ``rand()``-based terms, which Spark 4.1's rand-predicate
#: rewrite folds away, re-enabling the pushdown.  Cost: one
#: TaskContext read per row, JVM-side — nothing shuffles, nothing
#: leaves the executor.
_OPTIMIZER_FENCE = "spark_partition_id() >= -1"


def validate_json(df: DataFrame, schema: dict, doc_col: str = "content") -> DataFrame:
    """The processor surface: append ``valid`` and ``validation_error``
    and route like NiFi's valid/invalid relationships
    (``df.filter("valid")`` / ``df.filter("NOT valid")``).

    Staged evaluation: parse root → per-path variant/string columns →
    per-path canonical types → one boolean per rule → valid + first
    violation.  Each stage is a real projection, so every shared
    subexpression evaluates once per row — and ``valid`` carries an
    optimizer fence (see ``_OPTIMIZER_FENCE``) so a downstream filter
    can't collapse the stages back into one interpreted predicate."""
    sp = _SparkSide()
    rules: list[_Rule] = []
    _compile(schema, sp, "ignored", "$", rules)

    oks = {f"_ok{i}": r.ok_spark() for i, r in enumerate(rules)}
    staged = df.selectExpr("*", f"try_parse_json({ident(doc_col)}) AS _jsroot")
    for stage in (sp.var_regs, sp.type_regs, sp.derived_regs, oks):
        if stage:
            staged = staged.selectExpr("*", *(f"{e} AS {n}" for n, e in stage.items()))
    well = "_jsroot IS NOT NULL"
    valid = " AND ".join([well, *oks, _OPTIMIZER_FENCE])
    err = " ".join(
        [f"CASE WHEN NOT ({well}) THEN 'malformed'"]
        + [f"WHEN NOT {n} THEN {lit(r.label)}" for n, r in zip(oks, rules)]
        + ["END"]
    )
    return staged.selectExpr(
        *projection(df.columns, {"valid": valid, "validation_error": err})
    )
