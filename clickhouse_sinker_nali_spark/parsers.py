"""Message parsing: raw Kafka ``value`` strings -> typed DataFrames.

Covers the reference's parser surface (SURVEY.md §2.1 P1-P6):

- JSON (fastjson/gjson semantics)  -> ``parse_json``
- CSV (RFC-4180, configurable sep) -> ``parse_csv``
- DateTime layout cascade          -> datetimes.py
- per-key type inference for dynamic schema -> ``infer_internal_type``

Design: one message parse per format — ``from_csv``, or for JSON the
variant parse (flat fields) plus one ``from_json`` with an all-string
schema (String targets get the value's raw JSON text, the reference's
"string target gets raw JSON" rule) — then the lenient coercion
expressions from coerce.py, staged by ``Staging`` so each helper runs once
per row. There is no Python in the hot path. The projections are
whole-stage codegen'd except those holding ``from_json`` (so the JSON
message-parse projection, whenever a String or other raw-path target
exists) or an array ``transform`` lambda, which run interpreted.

Dotted source names address nested JSON (gjson path syntax, reference
parser/gjson.go) and are extracted with ``get_json_object``. A literal dot
in a field name is escaped as ``\\.`` (reference util/common.go:98-101).

The bug-level-faithful Python reimplementation of the getter semantics
(used by the parity test-suite, not the hot path) lives in faithful.py.
"""

from __future__ import annotations

import itertools
import re
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .coerce import coerce_expr, coerce_variant_expr, kafka_virtual_source
from .datetimes import Stage
from .schema import ColumnSpec, InternalType, TableSchema

_ARRAY_TYPES = {
    InternalType.INT_ARRAY,
    InternalType.FLOAT_ARRAY,
    InternalType.STRING_ARRAY,
    InternalType.DATETIME_ARRAY,
}
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _split_source_path(source: str) -> list[str]:
    """Split a dotted source path honoring ``\\.`` escapes."""
    parts: list[str] = []
    cur: list[str] = []
    i = 0
    while i < len(source):
        ch = source[i]
        if ch == "\\" and i + 1 < len(source) and source[i + 1] == ".":
            cur.append(".")
            i += 2
        elif ch == ".":
            parts.append("".join(cur))
            cur = []
            i += 1
        else:
            cur.append(ch)
            i += 1
    parts.append("".join(cur))
    return parts


def _raw_string_schema(specs: list[ColumnSpec]) -> T.StructType:
    """All-string extraction schema: arrays as array<string>, rest string."""
    fields: dict[str, T.DataType] = {}
    for spec in specs:
        # raw-path specs are single-part by construction (nested paths go
        # through get_json_object instead)
        src = _split_source_path(spec.source_name)[0]
        want = (
            T.ArrayType(T.StringType())
            if spec.internal in _ARRAY_TYPES
            else T.StringType()
        )
        prev = fields.get(src)
        if prev is not None and prev != want:
            # one source feeding both an array and a scalar target cannot
            # share a single raw extraction field — first-spec-wins would
            # silently mistype one of them; fail loudly instead
            raise ValueError(
                f"source {src!r} is consumed by both array and scalar raw "
                "targets; give the targets distinct source fields"
            )
        fields[src] = want
    return T.StructType(
        [T.StructField(name, tp, True) for name, tp in fields.items()]
    )


class Staging:
    """Single-evaluation staging for one parse.

    Every expensive expression a target references more than once
    downstream — its extraction, the variant type tag and, for DateTime
    targets, the default-parse attempt and the parse-gated cleaned string —
    is hoisted into its own projection and referenced as an attribute.
    Catalyst's CollapseProject never inlines a non-cheap producer that is
    referenced more than once, so the projections survive optimization,
    each helper is computed exactly once per row, and the CASE branches
    downstream compare attributes instead of re-running schema_of_variant
    or trim+regexp chains per branch (the round-2 10× ingest parse
    regression: O(layouts × branches) work per row).
    """

    def __init__(self) -> None:
        self._layers: list[dict[str, Column]] = []

    def chain(self, prefix: str) -> Stage:
        """The ``stage`` function of one target: each call hoists its
        expression one projection after the previous call's, so it may
        reference every attribute staged before it."""
        depth = itertools.count()

        def stage(expr: Column) -> Column:
            level = next(depth)
            if level == len(self._layers):
                self._layers.append({})
            name = f"{prefix}_{level}"
            self._layers[level][name] = expr
            return F.col(name)

        return stage

    def apply(self, df: DataFrame) -> DataFrame:
        for layer in self._layers:
            df = df.withColumns(layer)
        return df


def _staged_parse(
    df: DataFrame,
    schema: TableSchema,
    time_unit: float,
    extract: Callable[[ColumnSpec], tuple[Column, bool]],
    message_parse: Callable[[], dict[str, Column]],
) -> DataFrame:
    """The parse loop ``parse_json`` and ``parse_csv`` share.

    ``extract(spec)`` is the format's per-target extraction: a variant
    field (``(value, True)``) or the raw text, array<string> for array
    targets (``(value, False)``).  ``message_parse()`` runs after every
    extraction and returns the message parses they referenced, one
    projection below the staged ones.  ``__kafka*`` virtual columns are
    filled from the message metadata instead.  The output is exactly the
    dims: Kafka metadata reaches the table only through explicit
    ``__kafka*`` dims (a silent topic/partition/offset passthrough broke
    JDBC inserts into tables without those columns).
    """
    staging = Staging()
    out: list[Column] = []
    for i, spec in enumerate(schema):
        ksrc = kafka_virtual_source(spec.name)
        if ksrc is not None and ksrc in df.columns:
            out.append(F.col(ksrc).cast(spec.spark_type).alias(spec.name))
            continue
        stage = staging.chain(f"__sinker_{i}")
        value, variant = extract(spec)
        coerce = coerce_variant_expr if variant else coerce_expr
        out.append(coerce(stage(value), spec, time_unit, stage))
    return staging.apply(df.withColumns(message_parse())).select(*out)


def _text_array(text: Column) -> Column:
    """An array target's raw JSON text -> array<string> of element texts."""
    return F.from_json(text, T.ArrayType(T.StringType()))


def parse_json(df: DataFrame, schema: TableSchema, time_unit: float = 1.0) -> DataFrame:
    """Parse a JSON ``value`` column into the target table schema.

    Flat identifier-named fields go through the VariantType path
    (``coerce_variant_expr``): token-type-faithful fastjson semantics — a
    JSON *string* "7" is rejected for an Int target exactly like the
    reference's fastjson getters, because the variant preserves the token
    type.  Dotted/nested source names use ``get_json_object`` (gjson path
    semantics, which are string-lenient — matching the reference's gjson
    parser being the lenient one of the pair).

    Rows whose value is not valid JSON produce all-default rows in the
    reference only when *fields* are bad; a wholly unparseable message is
    dropped-but-acked (reference task/task.go:280-287). Use
    ``with_parse_errors`` to split those out.
    """
    value = F.col("value")
    raw_path_specs: list[ColumnSpec] = []  # fields of the raw from_json parse
    variant_used = False

    def extract(spec: ColumnSpec) -> tuple[Column, bool]:
        nonlocal variant_used
        parts = _split_source_path(spec.source_name)
        if len(parts) > 1:
            # nested path: re-extract from the message text (gjson path).
            # Bracket segments must NOT be preceded by a dot — Spark's
            # JsonPath parser rejects "$.['a.b'].c" (silently NULLing every
            # row) but accepts "$['a.b'].c".
            path = "$" + "".join(f"['{p}']" if "." in p else f".{p}" for p in parts)
            raw = F.get_json_object(value, path)
            return (_text_array(raw) if spec.internal in _ARRAY_TYPES else raw), False
        if _IDENT_RE.match(parts[0]) and spec.internal != InternalType.STRING:
            # String targets take the raw-text path instead: the reference
            # emits the value's raw JSON text verbatim, while variant
            # re-serialization normalizes it (sorts object keys, drops ".0"
            # from integral floats inside arrays).
            variant_used = True
            field = F.try_variant_get(F.col("__sinker_vroot"), f"$.{parts[0]}", "variant")
            return field, True
        raw_path_specs.append(spec)
        return F.col("__sinker_praw").getField(parts[0]), False

    def message_parse() -> dict[str, Column]:
        # each message parse is pruned to what the extractions use: the raw
        # from_json schema lists ONLY the raw-path fields, and a parse with
        # no consumers is omitted, so a schema never pays for both in full
        parses = {}
        if raw_path_specs:
            raw_schema = _raw_string_schema(raw_path_specs)
            parses["__sinker_praw"] = F.from_json(value, raw_schema)
        if variant_used:
            parses["__sinker_vroot"] = F.try_parse_json(value.cast("string"))
        return parses

    return _staged_parse(df, schema, time_unit, extract, message_parse)


def with_parse_errors(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Add ``__parse_error`` true when the message is not a JSON object.

    Mirrors PR4: unparseable message -> excluded from the batch but still
    acked + counted (reference task/ring.go:196-200). Downstream:
    ``df.filter(~F.col('__parse_error'))`` and observe the error count.
    """
    probe = F.try_parse_json(F.col(value_col))
    # a valid-JSON scalar/array ('7', '[1,2]') is NOT an object row: the
    # reference's parser returns nil for it and the row is dropped-but-
    # acked, same as invalid JSON (faithful.parse_message parity)
    return df.withColumn(
        "__parse_error",
        probe.isNull()
        | ~F.schema_of_variant(probe).startswith("OBJECT"),
    )


def _csv_cell_norm(cell: Column) -> Column:
    """Reference cell semantics (parser/csv.go:68-112): a matched record's
    cell is always a STRING and only the literal ``"null"`` maps to nil.
    ``from_csv`` reports NULL for both EMPTY and (permissively padded)
    missing cells — normalize both to '' first, then map 'null' to NULL,
    so Nullable(String) keeps the reference's empty-cell-is-'' behavior
    (the r8 ingest fuzz caught Spark's empty-cell→NULL default here)."""
    filled = F.coalesce(cell, F.lit(""))
    return F.when(filled == "null", F.lit(None).cast("string")).otherwise(
        filled
    )


def parse_csv(
    df: DataFrame,
    schema: TableSchema,
    csv_format: list[str],
    delimiter: str = ",",
    time_unit: float = 1.0,
) -> DataFrame:
    """Parse a CSV ``value`` column (one record per message).

    ``csv_format`` is the ordered column list of the CSV record (reference
    config ``csvFormat``); array-typed targets are embedded JSON strings
    inside the cell (reference parser/csv.go:41-230).

    Cell semantics follow the reference (parser/csv.go:68-112): a parsed
    record's cell is always a STRING — only the literal ``"null"`` maps to
    nil (→ NULL for nullable targets, the type default otherwise); an
    EMPTY cell is the empty string, so ``Nullable(String)`` keeps '' (the
    r8 ingest fuzz caught Spark's empty-cell→NULL default diverging here).
    A target missing from ``csv_format`` reads as nil.
    Deliberate softenings vs the reference, documented rather than
    replicated: the reference ERRORS any record whose cell count mismatches
    ``csvFormat`` (we pad/ignore permissively — padded cells behave as
    empty), and its fastfloat best-effort numerics return 0 where the
    shared lenient matrix returns NULL→default (visible only on nullable
    numeric targets fed garbage, e.g. reference Nullable(Float64) of
    'abc' → 0.0, here NULL).
    """
    columns = set(csv_format)

    def extract(spec: ColumnSpec) -> tuple[Column, bool]:
        if spec.source_name in columns:
            cell = _csv_cell_norm(F.col("__sinker_craw").getField(spec.source_name))
        else:
            cell = F.lit(None).cast("string")
        return (_text_array(cell) if spec.internal in _ARRAY_TYPES else cell), False

    def message_parse() -> dict[str, Column]:
        # escape='"' gives RFC-4180 doubled-quote semantics (reference
        # parser/csv.go uses encoding/csv, which is RFC-4180)
        ddl = ", ".join(f"`{name}` STRING" for name in csv_format)
        opts = {"sep": delimiter, "mode": "PERMISSIVE", "escape": '"'}
        return {"__sinker_craw": F.from_csv(F.col("value"), F.lit(ddl), opts)}

    return _staged_parse(df, schema, time_unit, extract, message_parse)


# ---------------------------------------------------------------------------
# P6: per-key type inference (dynamic schema mode)
# ---------------------------------------------------------------------------

def infer_internal_type(value) -> InternalType:
    """Infer the internal type of one JSON value, with the reference's
    priority rules (reference parser/fastjson.go:302-340):

    bool -> Int; integral number -> Int; other number -> Float;
    string parseable as datetime -> DateTime else String;
    object -> String (serialized); array -> elem-type array (first
    non-null element decides; empty/all-null -> Unknown).
    """
    from .faithful import parse_datetime_python  # lazy: avoids cycle

    if value is None:
        return InternalType.UNKNOWN
    if isinstance(value, bool):
        return InternalType.INT
    if isinstance(value, int):
        return InternalType.INT
    if isinstance(value, float):
        return InternalType.INT if float(value).is_integer() else InternalType.FLOAT
    if isinstance(value, str):
        if parse_datetime_python(value) is not None:
            return InternalType.DATETIME
        return InternalType.STRING
    if isinstance(value, dict):
        return InternalType.STRING
    if isinstance(value, list):
        elem = next((v for v in value if v is not None), None)
        it = infer_internal_type(elem)
        return {
            InternalType.INT: InternalType.INT_ARRAY,
            InternalType.FLOAT: InternalType.FLOAT_ARRAY,
            InternalType.STRING: InternalType.STRING_ARRAY,
            InternalType.DATETIME: InternalType.DATETIME_ARRAY,
            InternalType.UNKNOWN: InternalType.UNKNOWN,
        }.get(it, InternalType.STRING_ARRAY)
    return InternalType.STRING
