"""Log-normalization pipeline operators (reference parity core).

Re-expresses the reference pipeline — scan → JSON parse → normalize
(alias coalesce + kubernetes flatten + residual-fields projection +
validation) → level/service filter → PII redaction — as pure Spark
Column expressions over a DataFrame of raw JSONL lines. The report
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

Everything is a built-in Column expression (whole-stage codegen, no
Python on the hot path). The JSON document is parsed exactly ONCE per
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


def _vstr(c: Column) -> Column:
    """The variant's value when it is a JSON string, else NULL (mirrors
    Go's `v.(string)` type assertion)."""
    return F.when(
        F.schema_of_variant(c) == F.lit("STRING"),
        F.try_variant_get(c, "$", "string"),
    )


# Go unicode.IsSpace's exact character set (strings.TrimSpace). Spark's
# F.trim strips ONLY ASCII space — tab/newline/unicode-space padded
# values would diverge from the reference (found by the normalize
# property test). Built from codepoints; the literal-character class
# works identically in Java regex (Spark) and RE2 (DuckDB oracle).
# NOTE: Python's default str.strip() also eats \x1c-\x1f, which Go does
# NOT consider whitespace — use GO_SPACE_CHARS, never bare strip().
_GO_SPACE_CODEPOINTS = (
    [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0x85, 0xA0, 0x1680]
    + list(range(0x2000, 0x200B))
    + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)
GO_SPACE_CHARS = "".join(chr(c) for c in _GO_SPACE_CODEPOINTS)
GO_SPACE_CLASS = "[" + GO_SPACE_CHARS + "]"
_GO_TRIM_RE = f"^{GO_SPACE_CLASS}+|{GO_SPACE_CLASS}+$"


def gotrim(c: Column) -> Column:
    """strings.TrimSpace parity (normalize.go:20 etc.)."""
    return F.regexp_replace(c, _GO_TRIM_RE, "")


# Jackson (Spark's to_json) writes control-char escapes with UPPERCASE
# hex (``); Go's encoding/json writes lowercase (``). Only
# nine escapes Jackson emits contain hex letters at all (\b \t \n \f \r
# take short forms). A literal backslash in content is itself escaped as
# `\\`, so after swapping `\\` for a raw \x01 — which cannot appear in
# JSON output, Jackson escapes everything < 0x20 — every remaining
# `\uXXXX` is a real escape and can be lowercased by literal replace.
_UPPER_HEX_ESCAPES = [0x0B, 0x0E, 0x0F, 0x1A, 0x1B, 0x1C, 0x1D, 0x1E, 0x1F]


def go_json_case(c: Column) -> Column:
    """Lowercase Jackson's \\uXXXX hex to match Go's encoding/json."""
    out = F.replace(c, F.lit("\\\\"), F.lit("\x01"))
    for cp in _UPPER_HEX_ESCAPES:
        out = F.replace(out, F.lit("\\u%04X" % cp), F.lit("\\u%04x" % cp))
    return F.replace(out, F.lit("\x01"), F.lit("\\\\"))


def _nb(c: Column) -> Column:
    """NULL when empty string (Go's `if s == ""` fallback trigger)."""
    return F.nullif(c, F.lit(""))


def _trimmed_chain(*cols: Column) -> Column:
    """First candidate that is non-empty after trim, else ''."""
    return F.coalesce(*[_nb(gotrim(c)) for c in cols], F.lit(""))


def scan_lines(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Blank-line skip (main.go:354-356): blank lines are dropped before
    TotalLines is counted."""
    return df.filter(F.length(gotrim(F.col(value_col))) > 0)


def parse_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Adds `m` (the single map<string,variant> document parse) and
    `json_ok`. A line parses only when it is a JSON *object* (Go
    unmarshals into map[string]any, main.go:365-374): from_json with a
    map target returns NULL for arrays, scalars, and malformed input."""
    df = df.withColumn("m", F.from_json(F.col(value_col), DOC_SCHEMA))
    return df.withColumn("json_ok", F.col("m").isNotNull())


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
    m = F.col("m")
    k8s = F.element_at(m, F.lit("kubernetes"))
    top = {
        k: _vstr(F.element_at(m, F.lit(key)))
        for k, key in {
            "ts": "ts", "time": "time", "level": "level",
            "severity": "severity", "msg": "msg", "message": "message",
            "service": "service", "app": "app", "component": "component",
            "ns": "namespace", "pod": "pod", "node": "node",
            "hostname": "hostname", "trace_id": "trace_id", "trace": "trace",
        }.items()
    }
    k8s_sub = {
        f"k8s_{k}": _vstr(F.try_variant_get(k8s, f"$.{sub}", "variant"))
        for k, sub in {"ns": "namespace_name", "pod": "pod_name", "node": "node_name"}.items()
    }
    df = df.withColumns({f"{k}_c": v for k, v in {**top, **k8s_sub}.items()})

    c = F.col
    df = df.withColumns(
        {
            "ts_str": _trimmed_chain(c("ts_c"), c("time_c")),
            "level_raw": _trimmed_chain(c("level_c"), c("severity_c")),
            "message": _trimmed_chain(c("msg_c"), c("message_c")),
            "service": _trimmed_chain(c("service_c"), c("app_c"), c("component_c")),
            # Top-level namespace/pod override the kubernetes block
            # (untrimmed, even when empty strings).
            "namespace": F.coalesce(
                F.when(c("ns_c").isNotNull(), c("ns_c")).otherwise(c("k8s_ns_c")),
                F.lit(""),
            ),
            "pod": F.coalesce(
                F.when(c("pod_c").isNotNull(), c("pod_c")).otherwise(c("k8s_pod_c")),
                F.lit(""),
            ),
            # node: top-level (trimmed) overrides block (untrimmed);
            # hostname (trimmed) is a final fallback when node is ''.
            "node": F.coalesce(
                _nb(
                    F.when(c("node_c").isNotNull(), gotrim(c("node_c")))
                    .otherwise(c("k8s_node_c"))
                ),
                _nb(gotrim(c("hostname_c"))),
                F.lit(""),
            ),
            "trace_id": _trimmed_chain(c("trace_id_c"), c("trace_c")),
        }
    )

    # RFC3339(Nano) validation: regexp gate (Go's layout is strict about
    # 'T' and the offset) then engine parse; canonical value kept as a
    # real TimestampType for downstream temporal operators.
    ts_parsed = F.when(
        F.col("ts_str").rlike(RFC3339_RE), F.try_to_timestamp(F.col("ts_str"))
    )
    df = df.withColumn("ts", ts_parsed)

    df = df.withColumn(
        "norm_error",
        F.when(F.col("ts_str") == "", F.lit(ERR_MISSING_TS))
        .when(
            F.col("ts").isNull(),
            # normalize.go:203 fmt.Errorf("invalid timestamp %q: ...").
            # %q additionally backslash-escapes quotes/control chars in
            # the offending value; this concat embeds it literally —
            # identical for all well-formed-but-wrong timestamps, and
            # the oracle mirrors the literal form.
            F.concat(
                F.lit('invalid timestamp "'), F.col("ts_str"), F.lit('": expected RFC3339')
            ),
        )
        .when(F.col("message") == "", F.lit(ERR_MISSING_MSG))
        .when(F.col("level_raw") == "", F.lit(ERR_MISSING_LEVEL)),
    ).withColumn("level", F.upper(F.col("level_raw")))

    # Residual fields: every key outside the exclusion list; values
    # rendered as strings (JSON strings unquoted, nested objects/arrays
    # as compact JSON, JSON null as NULL). Reuses the shared document
    # map — no extra parse; map_filter preserves document key order.
    def _render(v: Column) -> Column:
        s = F.schema_of_variant(v)
        return (
            F.when(s == F.lit("STRING"), F.try_variant_get(v, "$", "string"))
            .when(s == F.lit("VOID"), F.lit(None).cast("string"))
            .otherwise(go_json_case(F.to_json(v)))
        )

    df = df.withColumn(
        "fields",
        F.transform_values(
            F.map_filter(F.col("m"), lambda k, _: ~k.isin(*EXCLUDED_KEYS)),
            lambda _, v: _render(v),
        ),
    )
    return df.drop(*[f"{k}_c" for k in (
        "ts", "time", "level", "severity", "msg", "message", "service",
        "app", "component", "ns", "pod", "node", "hostname",
        "trace_id", "trace", "k8s_ns", "k8s_pod", "k8s_node",
    )])


def apply_filters(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Adds `drop_reason` ('level' / 'service' / NULL=written) and redacts
    the fields map for rows that pass both filters (filter.go:29-43 —
    blocked rows keep their fields untouched)."""
    levels = cfg.levels_upper
    services = cfg.services_lower

    keep_level = F.lit(True) if not levels else F.upper(F.col("level")).isin(*levels)
    keep_service = F.lit(True) if not services else F.lower(F.col("service")).isin(*services)

    df = df.withColumn(
        "drop_reason",
        F.when(~keep_level, F.lit("level")).when(~keep_service, F.lit("service")),
    )
    if cfg.redact_keys:
        redacted = F.map_filter(F.col("fields"), lambda k, _: ~k.isin(*cfg.redact_keys))
        df = df.withColumn(
            "fields",
            F.when(F.col("drop_reason").isNull(), redacted).otherwise(F.col("fields")),
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


def ok_predicate() -> Column:
    """A row that parsed as a JSON object and normalized without error:
    what the sinks receive (before filters) and the report counts as
    `normalized_ok`; every other row goes to the DLQ."""
    return F.col("json_ok") & F.col("norm_error").isNull()


def ok_records(df: DataFrame) -> DataFrame:
    return df.filter(ok_predicate())


def written_records(df: DataFrame) -> DataFrame:
    return ok_records(df).filter(F.col("drop_reason").isNull())


def rfc3339nano(col: Column) -> Column:
    """Render a timestamp as Go time.RFC3339Nano (fractional zeros and a
    trailing '.' trimmed; UTC 'Z' suffix)."""
    base = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
    frac = F.regexp_replace(F.date_format(col, ".SSSSSSSSS"), r"\.?0+$", "")
    return F.concat(base, frac, F.lit("Z"))

