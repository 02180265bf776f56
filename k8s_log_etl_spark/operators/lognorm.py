"""Log-normalization pipeline operators (reference parity core).

Re-expresses the reference pipeline — scan → JSON parse → normalize
(alias coalesce + kubernetes flatten + residual-fields projection +
validation) → level/service filter → PII redaction — as pure Spark
expressions over a DataFrame of raw JSONL lines. The report
counted over the result lives in operators/report.py.

Parity sources (k8s-log-etl):
  * scan / blank-line skip ......... cmd/etl/main.go:340-359
  * JSON parse accounting .......... cmd/etl/main.go:365-374
  * Normalize ...................... internal/stages/normalize.go:11-190
  * timestamp validation ........... internal/stages/normalize.go:192-206
  * level/service filter + redact .. internal/stages/filter.go:29-86

Semantics pinned exactly (these are what the DuckDB oracle checks):
  * alias fallback fires when the primary key is missing, non-string, or
    trims to "" (normalize.go type-asserts strings and checks emptiness);
  * ts/level/msg/service/node/hostname/trace values are trimmed;
    namespace/pod and kubernetes.* values are NOT trimmed;
  * top-level namespace/pod/node OVERRIDE the kubernetes block values
    whenever they are strings (even empty strings) — they are overrides,
    not fallbacks (normalize.go:110-126); hostname is a final fallback
    only when node is still empty (normalize.go:128-134);
  * residual keys (everything outside the 16-key exclusion list) flow to
    the fields map; unrecognized kubernetes sub-keys are dropped with the
    whole `kubernetes` key (normalize.go:151-172);
  * validation order and error strings: missing/invalid timestamp, then
    empty message, then empty level (normalize.go:174-187); level is
    uppercased on success;
  * only JSON *objects* parse (Go unmarshals into map[string]any —
    scalars/arrays count as JSONFailed);
  * level filtering uppercases both sides, service filtering lowercases
    both sides, redaction keys are exact-case (filter.go:45-76);
  * by_level / by_service tallies run over all normalize-OK records
    BEFORE filtering (main.go:386-411).

Everything is a built-in expression (whole-stage codegen where Spark
has it, no Python on the hot path), written as SQL text and applied
with `F.expr`: one py4j round trip per output column, where a
Column-built projection costs ~7 per `F.*` call (~3,000 round trips
and ~0.6 s of driver time for this lineage, warm). The helpers
(`gotrim`, `go_json_case`, `rfc3339nano`, ...) take and return SQL
text. Go's strings.TrimSpace is Spark's set trim, `btrim(x, set)`:
it strips any code point of the set from both ends — no regex, no
Java String round trip. The JSON document is parsed exactly ONCE per
row — ``from_json`` into ``map<string, variant>``, which simultaneously
(a) gates JSON-objectness (arrays/scalars/malformed → NULL map, Go's
``json.Unmarshal`` into map[string]any), (b) provides tiny per-key
variants for the string-type gate, and (c) feeds the residual-fields
map_filter — and every downstream expression operates on those small
parsed columns, never on the raw document.

Scale note: an earlier draft navigated a whole-document variant with
~100 `try_variant_get('$path')` calls; projection collapse inlined the
document parse into every reference and the single codegen stage grew
to ~760 KB of generated Java — beyond HotSpot's JIT method limits, so
first executions ran interpreted (60-190 s for 10k rows). The staged
single parse keeps each generated method small and JIT-able; there is
still no shuffle anywhere before the final aggregations.

Known divergence: on duplicate JSON keys Go's json.Unmarshal keeps the
LAST occurrence while Spark's map parse keeps the first. Duplicate-key
logs are malformed in practice; not worth a second parse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from k8s_log_etl_spark.config import PipelineConfig

# Keys excluded from the residual fields map (normalize.go:153-169).
EXCLUDED_KEYS: tuple[str, ...] = (
    "ts", "time", "hostname", "level", "severity", "msg", "message",
    "service", "app", "component", "kubernetes", "trace_id", "trace",
    "namespace", "pod", "node",
)

# Go time.RFC3339(Nano): date 'T' time, optional fraction, 'Z' or ±HH:MM.
RFC3339_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,9})?(Z|[+-]\d{2}:\d{2})$"

ERR_MISSING_TS = "missing timestamp: expected ts/time in RFC3339"
ERR_MISSING_MSG = "missing message: expected msg/message"
ERR_MISSING_LEVEL = "missing level: expected level/severity"


# from_json target: ONE document parse into map<string, variant>. The
# parse doubles as the JSON-object gate (arrays / scalars / malformed
# input all yield NULL, exactly Go's `json.Unmarshal` into
# map[string]any), each value is a tiny per-key variant for the
# string-type gate, and the residual-fields projection is a map_filter
# over the same map — no second parse of the document anywhere.
DOC_SCHEMA = "map<string, variant>"


def sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal. Backslash and quote are
    escaped; control and non-ASCII BMP characters become \\uXXXX escapes
    so printed plans stay readable, one line per node."""
    body = "".join(
        "\\" + ch if ch in "\\'"
        else f"\\u{ord(ch):04x}" if ch < " " or "\x7f" <= ch <= "\uffff"
        else ch
        for ch in s
    )
    return f"'{body}'"


def _sql_list(values: tuple[str, ...]) -> str:
    return ", ".join(sql_str(v) for v in values)


def _vstr(c: str) -> str:
    """The variant's value when it is a JSON string, else NULL (mirrors
    Go's `v.(string)` type assertion)."""
    return (
        f"CASE WHEN schema_of_variant({c}) = 'STRING' "
        f"THEN try_variant_get({c}, '$', 'string') END"
    )


# Go unicode.IsSpace's exact character set (strings.TrimSpace). Spark's
# one-argument trim strips ONLY ASCII space — tab/newline/unicode-space
# padded values would diverge from the reference (found by the normalize
# property test). GO_SPACE_CLASS is the same set as a regex class for
# the DuckDB oracle, which keeps its own regex trim.
# NOTE: Python's default str.strip() also eats \x1c-\x1f, which Go does
# NOT consider whitespace — use GO_SPACE_CHARS, never bare strip().
_GO_SPACE_CODEPOINTS = (
    [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0x85, 0xA0, 0x1680]
    + list(range(0x2000, 0x200B))
    + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)
GO_SPACE_CHARS = "".join(chr(c) for c in _GO_SPACE_CODEPOINTS)
GO_SPACE_CLASS = "[" + GO_SPACE_CHARS + "]"
_GO_SPACE_SQL = sql_str(GO_SPACE_CHARS)


def gotrim(c: str) -> str:
    """strings.TrimSpace parity (normalize.go:20 etc.): the set trim
    strips any code point of GO_SPACE_CHARS from both ends — no regex."""
    return f"btrim({c}, {_GO_SPACE_SQL})"


# Jackson (Spark's to_json) writes control-char escapes with UPPERCASE
# hex (`\u001F`); Go's encoding/json writes lowercase (`\u001f`). Only
# nine escapes Jackson emits contain hex letters at all (\b \t \n \f \r
# take short forms). A literal backslash in content is itself escaped as
# `\\`, so after swapping `\\` for a raw \x01 — which cannot appear in
# JSON output, Jackson escapes everything < 0x20 — every remaining
# `\uXXXX` is a real escape and can be lowercased by literal replace.
# Every escape rewritten contains `\u00`, so text without it is left as
# is (and the `\\` round trip is then the identity): the passes are
# skipped for it.
_UPPER_HEX_ESCAPES = [0x0B, 0x0E, 0x0F, 0x1A, 0x1B, 0x1C, 0x1D, 0x1E, 0x1F]
_ESCAPE_PREFIX = sql_str("\\u00")


def go_json_case(s: str) -> str:
    """Lowercase Jackson's \\uXXXX hex to match Go's encoding/json."""
    backslashes, marker = sql_str("\\\\"), sql_str("\x01")
    out = f"replace({s}, {backslashes}, {marker})"
    for cp in _UPPER_HEX_ESCAPES:
        upper, lower = sql_str("\\u%04X" % cp), sql_str("\\u%04x" % cp)
        out = f"replace({out}, {upper}, {lower})"
    out = f"replace({out}, {marker}, {backslashes})"
    return f"CASE WHEN instr({s}, {_ESCAPE_PREFIX}) > 0 THEN {out} ELSE {s} END"


def _nb(c: str) -> str:
    """NULL when empty string (Go's `if s == ""` fallback trigger)."""
    return f"nullif({c}, '')"


def _trimmed_chain(*cols: str) -> str:
    """First candidate that is non-empty after trim, else ''."""
    return f"coalesce({', '.join(_nb(gotrim(c)) for c in cols)}, '')"


def _exprs(cols: dict[str, str]) -> dict[str, Column]:
    return {name: F.expr(sql) for name, sql in cols.items()}


def scan_lines(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Blank-line skip (main.go:354-356): blank lines are dropped before
    TotalLines is counted."""
    return df.filter(f"length({gotrim(f'`{value_col}`')}) > 0")


def parse_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Adds `m` (the single map<string,variant> document parse) and
    `json_ok`. A line parses only when it is a JSON *object* (Go
    unmarshals into map[string]any, main.go:365-374): from_json with a
    map target returns NULL for arrays, scalars, and malformed input."""
    df = df.withColumn("m", F.expr(f"from_json(`{value_col}`, {sql_str(DOC_SCHEMA)})"))
    return df.withColumn("json_ok", F.expr("m IS NOT NULL"))


_TOP_KEYS = {
    "ts": "ts", "time": "time", "level": "level",
    "severity": "severity", "msg": "msg", "message": "message",
    "service": "service", "app": "app", "component": "component",
    "ns": "namespace", "pod": "pod", "node": "node",
    "hostname": "hostname", "trace_id": "trace_id", "trace": "trace",
}
_K8S_KEYS = {"ns": "namespace_name", "pod": "pod_name", "node": "node_name"}


def normalize(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Adds canonical columns + `fields` map + `norm_error` to parsed rows.

    Canonical empty values are '' (not NULL) to match the Go struct's
    zero-value semantics (normalized.go:3-13).
    """
    # Stage 1: string-type-gated raw values off the shared document map
    # `m` (built by parse_json), each computed exactly once. Kept as a
    # separate projection (CollapseProject won't inline non-cheap
    # producers into multiple references) so generated code stays small
    # enough for the JIT.
    k8s = "element_at(m, 'kubernetes')"
    raw = {
        **{f"{k}_c": _vstr(f"element_at(m, {sql_str(key)})") for k, key in _TOP_KEYS.items()},
        **{
            f"k8s_{k}_c": _vstr(f"try_variant_get({k8s}, {sql_str('$.' + sub)}, 'variant')")
            for k, sub in _K8S_KEYS.items()
        },
    }
    df = df.withColumns(_exprs(raw))
    node = f"CASE WHEN node_c IS NOT NULL THEN {gotrim('node_c')} ELSE k8s_node_c END"
    df = df.withColumns(_exprs({
        "ts_str": _trimmed_chain("ts_c", "time_c"),
        "level_raw": _trimmed_chain("level_c", "severity_c"),
        "message": _trimmed_chain("msg_c", "message_c"),
        "service": _trimmed_chain("service_c", "app_c", "component_c"),
        # Top-level namespace/pod override the kubernetes block
        # (untrimmed, even when empty strings).
        "namespace": "coalesce(CASE WHEN ns_c IS NOT NULL THEN ns_c ELSE k8s_ns_c END, '')",
        "pod": "coalesce(CASE WHEN pod_c IS NOT NULL THEN pod_c ELSE k8s_pod_c END, '')",
        # node: top-level (trimmed) overrides block (untrimmed);
        # hostname (trimmed) is a final fallback when node is ''.
        "node": f"coalesce({_nb(node)}, {_nb(gotrim('hostname_c'))}, '')",
        "trace_id": _trimmed_chain("trace_id_c", "trace_c"),
    }))

    # RFC3339(Nano) validation: regexp gate (Go's layout is strict about
    # 'T' and the offset) then engine parse; canonical value kept as a
    # real TimestampType for downstream temporal operators.
    df = df.withColumn(
        "ts",
        F.expr(f"CASE WHEN ts_str RLIKE {sql_str(RFC3339_RE)} THEN try_to_timestamp(ts_str) END"),
    )

    df = df.withColumn(
        "norm_error",
        F.expr(
            f"CASE WHEN ts_str = '' THEN {sql_str(ERR_MISSING_TS)} "
            # normalize.go:203 fmt.Errorf("invalid timestamp %q: ...").
            # %q additionally backslash-escapes quotes/control chars in
            # the offending value; this concat embeds it literally —
            # identical for all well-formed-but-wrong timestamps, and
            # the oracle mirrors the literal form.
            "WHEN ts IS NULL THEN "
            """concat('invalid timestamp "', ts_str, '": expected RFC3339') """
            f"WHEN message = '' THEN {sql_str(ERR_MISSING_MSG)} "
            f"WHEN level_raw = '' THEN {sql_str(ERR_MISSING_LEVEL)} END"
        ),
    ).withColumn("level", F.expr("upper(level_raw)"))

    # Residual fields: every key outside the exclusion list; values
    # rendered as strings (JSON strings unquoted, nested objects/arrays
    # as compact JSON, JSON null as NULL). Reuses the shared document
    # map — no extra parse; map_filter preserves document key order.
    render = (
        "CASE WHEN schema_of_variant(v) = 'STRING' THEN try_variant_get(v, '$', 'string') "
        "WHEN schema_of_variant(v) = 'VOID' THEN CAST(NULL AS STRING) "
        f"ELSE {go_json_case('to_json(v)')} END"
    )
    df = df.withColumn(
        "fields",
        F.expr(
            f"transform_values(map_filter(m, (k, v) -> NOT k IN ({_sql_list(EXCLUDED_KEYS)})), "
            f"(k, v) -> {render})"
        ),
    )
    return df.drop(*raw)


def apply_filters(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Adds `drop_reason` ('level' / 'service' / NULL=written) and redacts
    the fields map for rows that pass both filters (filter.go:29-43 —
    blocked rows keep their fields untouched)."""
    levels = cfg.levels_upper
    services = cfg.services_lower

    keep_level = "TRUE" if not levels else f"upper(level) IN ({_sql_list(levels)})"
    keep_service = "TRUE" if not services else f"lower(service) IN ({_sql_list(services)})"

    df = df.withColumn(
        "drop_reason",
        F.expr(
            f"CASE WHEN NOT ({keep_level}) THEN 'level' "
            f"WHEN NOT ({keep_service}) THEN 'service' END"
        ),
    )
    if cfg.redact_keys:
        df = df.withColumn(
            "fields",
            F.expr(
                "CASE WHEN drop_reason IS NULL THEN map_filter(fields, "
                f"(k, v) -> NOT k IN ({_sql_list(cfg.redact_keys)})) ELSE fields END"
            ),
        )
    return df


def run_pipeline(lines: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Full annotated pipeline: one DataFrame carrying json_ok /
    norm_error / drop_reason so every downstream query (written records,
    DLQ, report counters) is a filter/projection over a single lineage —
    Catalyst prunes whatever a given query doesn't use."""
    cfg = cfg or PipelineConfig()
    df = scan_lines(lines)
    df = parse_json(df)
    df = normalize(df)
    # Configured transform chain (reference registry.go:26-34); the
    # default chain is the built-in filter_redact == apply_filters.
    # Imported lazily: plugins registers its built-ins against this
    # module at import time.
    from k8s_log_etl_spark import plugins

    return plugins.apply_chain(df, cfg, cfg.transforms)


#: A row that parsed as a JSON object and normalized without error:
#: what the sinks receive (before filters) and the report counts as
#: `normalized_ok`; every other row goes to the DLQ.
OK_SQL = "json_ok AND norm_error IS NULL"


def ok_records(df: DataFrame) -> DataFrame:
    return df.filter(OK_SQL)


def written_records(df: DataFrame) -> DataFrame:
    return ok_records(df).filter("drop_reason IS NULL")


_RFC3339_SECONDS = sql_str("yyyy-MM-dd'T'HH:mm:ss")
_TRAILING_ZEROS = sql_str(r"\.?0+$")


def rfc3339nano(c: str) -> str:
    """Render a timestamp as Go time.RFC3339Nano (fractional zeros and a
    trailing '.' trimmed; UTC 'Z' suffix)."""
    return (
        f"concat(date_format({c}, {_RFC3339_SECONDS}), "
        f"regexp_replace(date_format({c}, '.SSSSSSSSS'), {_TRAILING_ZEROS}, ''), 'Z')"
    )
