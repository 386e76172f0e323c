"""JS-exact type coercion as pure Spark Column expressions.

Reproduces the reference's coercion switch (app/mapper.js:192-243) over JSON values
whose runtime type matters: JS `Number(true)` is 1 but `Number("true")` is NaN;
`parseInt("7px")` is 7 but `Number("7px")` is NaN; booleans accept exactly
1/'1'/true and 0/'0'/false plus case-insensitive "TRUE"/"FALSE" strings
(app/mapper.js:218-232). The full truth table lives in FIXTURES.md §5.

Values are carried as Spark VARIANT (parse_json of the raw payload), so the JSON
runtime type (string/number/boolean/null) survives into the plan and every rule below
compiles to JVM-side expressions — no Python on the hot path.

Performance contract: every function has a `_vt` variant taking the PRE-COMPUTED
`schema_of_variant(v)` string. The mapper computes vt once per map entry (inside a
single HOF pass, where the lambda variable acts as a let-binding) and threads it
through; the convenience single-argument forms re-derive vt inline and are only for
cold paths (alert message formatting). schema_of_variant is not free, and variant
HOF trees are interpreted — calling it O(probes) times per value was the dominant
cost of the whole pipeline before this split.

Type-name families follow app/mapper.js:199-239 (matched on the lower-cased metadata
type string): varchar|string, integer|int, float|double|"double precision",
bool|boolean; anything else is a coercion error.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# --- variant runtime-type probes -------------------------------------------------

def vtype(v: Column) -> Column:
    """JSON runtime type of a variant value: schema_of_variant returns STRING /
    BOOLEAN / BIGINT / DOUBLE / DECIMAL(p,s) / VOID (JSON null)."""
    return F.schema_of_variant(v)


def _is_num(vt: Column) -> Column:
    return (vt == "BIGINT") | (vt == "DOUBLE") | vt.startswith("DECIMAL")


def _is_str(vt: Column) -> Column:
    return vt == "STRING"


def _is_bool(vt: Column) -> Column:
    return vt == "BOOLEAN"


def _is_null(vt: Column) -> Column:
    return vt == "VOID"


def js_typeof_vt(v: Column, vt: Column) -> Column:
    """JS `typeof` of the JSON value — used in alert messages (app/mapper.js:449)."""
    return (
        F.when(_is_num(vt), F.lit("number"))
        .when(_is_str(vt), F.lit("string"))
        .when(_is_bool(vt), F.lit("boolean"))
        .otherwise(F.lit("object"))  # typeof null === 'object'
    )


def js_typeof(v: Column) -> Column:
    return js_typeof_vt(v, vtype(v))


def js_string_vt(v: Column, vt: Column) -> Column:
    """JS `String(v)` (app/mapper.js:200). Variant->string cast renders numbers
    canonically (decimal 12.90 -> "12.9" matches JS), booleans as true/false,
    strings unquoted, null as NULL -> mapped to "null"."""
    return F.when(_is_null(vt), F.lit("null")).otherwise(v.cast("string"))


def js_string(v: Column) -> Column:
    return js_string_vt(v, vtype(v))


def json_literal(v: Column) -> Column:
    """The value re-serialized as a JSON literal (for residue / emit payloads) —
    equivalent of JSON.stringify on a scalar (app/mapper.js:309)."""
    return F.to_json(v)


# --- type-name families (app/mapper.js:199-239) ----------------------------------

STRING_TYPES = ("varchar", "string")
INT_TYPES = ("integer", "int")
FLOAT_TYPES = ("float", "double", "double precision")
BOOL_TYPES = ("bool", "boolean")


def _is_in(t: Column, names: tuple[str, ...]) -> Column:
    return t.isin(*names)


# --- per-family coercions --------------------------------------------------------
# Each returns (ok: Column<bool>, value: Column<typed>). A record-level error is
# ok == False; the reference then routes the key to the dead letter and alerts.

def _parse_int_prefix(s: Column) -> Column:
    """JS parseInt (no radix): skip leading whitespace, optional sign, then either
    a 0x/0X-prefixed longest hex prefix (radix auto-detect, ECMA-262 §19.2.5) or a
    longest decimal digit prefix; NaN if no digits (app/mapper.js:203-209).
    parseInt("12.9")=12, parseInt("7px")=7, parseInt("0x1Ag")=26, parseInt("-0x2")=-2."""
    t = F.ltrim(s)
    sign = F.when(t.startswith("-"), F.lit(-1)).otherwise(F.lit(1)).cast("long")
    body = F.when(t.rlike(r"^[+-]"), t.substr(F.lit(2), F.length(t))).otherwise(t)
    hex_digits = F.regexp_extract(body, r"^0[xX]([0-9a-fA-F]+)", 1)
    dec_digits = F.regexp_extract(body, r"^[0-9]+", 0)
    mag = F.when(hex_digits != "", F.conv(hex_digits, 16, 10).cast("long")).otherwise(
        F.when(dec_digits == "", F.lit(None).cast("long")).otherwise(
            dec_digits.cast("long")
        )
    )
    return sign * mag


def coerce_int_vt(v: Column, vt: Column) -> tuple[Column, Column]:
    # JS parseInt stringifies its argument first: parseInt(true) -> parseInt("true")
    # -> NaN; parseInt(12.9) -> parseInt("12.9") -> 12; parseInt(null) -> NaN.
    # Hot-path shortcut: BIGINT/DECIMAL variants round-trip their canonical string
    # losslessly (never E-notation), so parseInt == truncation toward zero — no
    # regex machinery. Only STRING and DOUBLE (which JS may render as "1e+21")
    # take the full string parse.
    dec = v.cast("decimal(38,18)")
    trunc = F.when(dec >= 0, F.floor(dec)).otherwise(F.ceil(dec)).cast("long")
    out = (
        F.when(_is_bool(vt) | _is_null(vt), F.lit(None).cast("long"))
        .when(vt == "BIGINT", v.cast("long"))
        .when(vt.startswith("DECIMAL"), trunc)
        .otherwise(_parse_int_prefix(js_string_vt(v, vt)))
    )
    return out.isNotNull(), out


def coerce_int(v: Column) -> tuple[Column, Column]:
    return coerce_int_vt(v, vtype(v))


def _js_number_of_string(s: Column) -> Column:
    """JS Number(string) (ECMA-262 StringToNumber): trimmed empty string -> 0;
    whole-string hex/binary/octal literals (0x/0b/0o, NO sign allowed); exact-case
    'Infinity' with optional sign; else decimal/scientific parse; NaN on anything
    else (app/mapper.js:211-217). 'NaN' is NaN (an error per the isNaN guard), and
    so are lowercase 'infinity' spellings — Spark's cast accepts those, hence the
    explicit guards before try_cast."""
    t = F.trim(s)
    return (
        F.when(t == "", F.lit(0.0))
        .when(t.rlike(r"^0[xX][0-9a-fA-F]+$"), F.conv(t.substr(F.lit(3), F.length(t)), 16, 10).cast("double"))
        .when(t.rlike(r"^0[bB][01]+$"), F.conv(t.substr(F.lit(3), F.length(t)), 2, 10).cast("double"))
        .when(t.rlike(r"^0[oO][0-7]+$"), F.conv(t.substr(F.lit(3), F.length(t)), 8, 10).cast("double"))
        .when(t.rlike(r"^[+-]?Infinity$"), F.regexp_replace(t, "Infinity", "1").cast("double") * F.lit(float("inf")))
        .when(
            # JS grammar: optional sign, then digits[.digits] or .digits, optional
            # exponent. Spark's cast is looser (accepts 'NaN', 'infinity', 'f'-ish
            # suffixes on some paths) — gate with the exact grammar.
            t.rlike(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
            t.try_cast("double"),
        )
        .otherwise(F.lit(None).cast("double"))
    )


def coerce_double_vt(v: Column, vt: Column) -> tuple[Column, Column]:
    out = (
        F.when(_is_bool(vt), v.cast("boolean").cast("int").cast("double"))  # Number(true)=1
        .when(_is_num(vt), v.cast("double"))
        .when(_is_null(vt), F.lit(0.0))  # Number(null) = 0
        .otherwise(_js_number_of_string(v.cast("string")))
    )
    return out.isNotNull(), out


def coerce_double(v: Column) -> tuple[Column, Column]:
    return coerce_double_vt(v, vtype(v))


def coerce_bool_vt(v: Column, vt: Column) -> tuple[Column, Column]:
    # Acceptance set is exact (app/mapper.js:218-232): loose-equality '1'/'0'
    # matches number 1/0 and string "1"/"0" (NOT "01"); plus case-insensitive
    # TRUE/FALSE strings; plus real booleans. Everything else errors (incl. 10,
    # "12.9", null).
    s = v.cast("string")
    num = F.when(_is_num(vt), v.cast("double"))
    out = (
        F.when(_is_bool(vt), v.cast("boolean"))
        .when(_is_num(vt) & (num == 1.0), F.lit(True))
        .when(_is_num(vt) & (num == 0.0), F.lit(False))
        .when(_is_str(vt) & ((s == "1") | (F.upper(s) == "TRUE")), F.lit(True))
        .when(_is_str(vt) & ((s == "0") | (F.upper(s) == "FALSE")), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )
    return out.isNotNull(), out


def coerce_bool(v: Column) -> tuple[Column, Column]:
    return coerce_bool_vt(v, vtype(v))


def coerce_string_vt(v: Column, vt: Column) -> tuple[Column, Column]:
    return F.lit(True), js_string_vt(v, vt)


def coerce_string(v: Column) -> tuple[Column, Column]:
    return coerce_string_vt(v, vtype(v))


# --- dynamic dispatch (type known only per-row, from the metadata join) ----------

def coerce_ok_vt(v: Column, vt: Column, t: Column) -> Column:
    """Whether JS coercion of variant `v` (runtime type string `vt`) to metadata
    type-string `t` succeeds — the error detection of coerce_types
    (app/mapper.js:192-243). Unknown/null type strings are errors (:233-239)."""
    return (
        F.when(_is_in(t, STRING_TYPES), F.lit(True))
        .when(_is_in(t, INT_TYPES), coerce_int_vt(v, vt)[0])
        .when(_is_in(t, FLOAT_TYPES), coerce_double_vt(v, vt)[0])
        .when(_is_in(t, BOOL_TYPES), coerce_bool_vt(v, vt)[0])
        .otherwise(F.lit(False))
    )


def coerce_ok(v: Column, t: Column) -> Column:
    return coerce_ok_vt(v, vtype(v), t)


def coerce_typed_vt(v: Column, vt: Column, sql_type: str) -> Column:
    """Statically-typed coercion for sink projection — the metadata type of a sink
    column is known at plan-build time, so this compiles to a plain typed column
    (feature_query_text value rendering, app/mapper.js:336-354)."""
    t = sql_type.strip().lower()
    if t in STRING_TYPES:
        return coerce_string_vt(v, vt)[1]
    if t in INT_TYPES:
        return coerce_int_vt(v, vt)[1].cast("int")
    if t in FLOAT_TYPES:
        return coerce_double_vt(v, vt)[1]
    if t in BOOL_TYPES:
        return coerce_bool_vt(v, vt)[1]
    return F.lit(None).cast("string")


def json_quote(s: Column) -> Column:
    """Render a plain string column as a JSON string literal (with escaping):
    to_json of a 1-element array, brackets stripped."""
    arr = F.to_json(F.array(s))
    return arr.substr(F.lit(2), F.length(arr) - 2)


def coerced_json_literal_vt(v: Column, vt: Column, t: Column) -> Column:
    """Coerced value rendered as a JSON literal (for emit messages, whose `results`
    object carries typed values — format_obs, app/mapper.js:365-403)."""
    dbl = coerce_double_vt(v, vt)[1]
    return (
        F.when(
            _is_in(t, STRING_TYPES),
            # Already a JSON string -> reuse the variant literal; otherwise quote
            # the JS String() rendition.
            F.when(_is_str(vt), F.to_json(v)).otherwise(json_quote(js_string_vt(v, vt))),
        )
        .when(_is_in(t, INT_TYPES), coerce_int_vt(v, vt)[1].cast("string"))
        .when(
            _is_in(t, FLOAT_TYPES),
            # Render integral doubles the way JS does (1, not 1.0); otherwise keep
            # the shortest decimal text the variant already carries when numeric.
            F.when(_is_num(vt) & ~vt.startswith("DOUBLE"), v.cast("string"))
            .when(dbl == F.floor(dbl), dbl.cast("long").cast("string"))
            .otherwise(dbl.cast("string")),
        )
        .when(_is_in(t, BOOL_TYPES), coerce_bool_vt(v, vt)[1].cast("string"))
        .otherwise(F.lit(None).cast("string"))
    )
