"""Property-based test of the normalize semantics (beyond the
reference's test strategy, SURVEY §5): Hypothesis generates arbitrary
log records — alias keys, kubernetes blocks, non-string canonical
values, whitespace, residual keys — and the Spark pipeline must agree
with an independent pure-Python model of the documented semantics
(SURVEY §1.2; the model implements the spec, it is not a port).

Value domain is restricted to strings / small ints / bools / None /
shallow objects: number formatting differences (1e30 etc.) are a JSON
rendering concern, not a normalize-semantics concern.

Bug found by this test in round 1: Spark's F.trim strips only ASCII
space while Go's strings.TrimSpace strips the Unicode White_Space set
(and Python's default str.strip() strips even more: \x1c-\x1f) — the
engine now trims Go's exact space set with Spark's set trim (btrim),
while the oracle keeps an independent regex trim over the same set.

Bugs found in round 2: (a) node/hostname still used ASCII F.trim
(missed branch of the round-1 fix); (b) Jackson renders control-char
escapes with uppercase hex (\\u001F) where Go's encoding/json writes
lowercase — fixed by lognorm.go_json_case at the serialization
boundary; (c) this model originally preserved dict insertion order in
nested-object values while Go's json.Marshal (and Spark's variant)
sort map keys — the model now sorts.
"""

from __future__ import annotations

import json
import re
from datetime import datetime

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from k8s_log_etl_spark.operators import lognorm

RFC3339_RE = re.compile(lognorm.RFC3339_RE)

ALIAS_KEYS = [
    "ts", "time", "level", "severity", "msg", "message", "service", "app",
    "component", "namespace", "pod", "node", "hostname", "trace_id", "trace",
]

scalar = st.one_of(
    st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=12),
    st.sampled_from(["  padded  ", "", " ", "2025-01-02T03:04:05Z", "x"]),
    st.integers(min_value=-999, max_value=999),
    st.booleans(),
    st.none(),
)

ts_values = st.one_of(
    st.sampled_from(
        [
            "2025-01-02T03:04:05Z",
            "2025-01-02T03:04:05.123456Z",
            "2025-01-02T03:04:05+02:00",
            " 2025-01-02T03:04:05Z ",
            "2025-02-30T00:00:00Z",  # regex-valid, calendar-invalid
            "not a date",
            "",
            "2025-01-02 03:04:05Z",  # space instead of T
        ]
    ),
    scalar,
)

record = st.fixed_dictionaries(
    {},
    optional={
        **{k: (ts_values if k in ("ts", "time") else scalar) for k in ALIAS_KEYS},
        "kubernetes": st.one_of(
            scalar,
            st.dictionaries(
                st.sampled_from(["namespace_name", "pod_name", "node_name", "container"]),
                scalar,
                max_size=4,
            ),
        ),
        "extra_a": scalar,
        "extra_b": st.one_of(scalar, st.dictionaries(st.sampled_from(["x", "y"]), scalar, max_size=2)),
    },
)


def _model(rec: dict) -> dict:
    """Pure-Python model of SURVEY §1.2 normalize semantics."""

    def sval(d: dict, k: str):
        v = d.get(k)
        return v if isinstance(v, str) else None

    def strip(v: str) -> str:
        return v.strip(lognorm.GO_SPACE_CHARS)

    def chain(*keys: str) -> str:
        for k in keys:
            v = sval(rec, k)
            if v is not None and strip(v) != "":
                return strip(v)
        return ""

    ts_str = chain("ts", "time")
    level_raw = chain("level", "severity")
    message = chain("msg", "message")
    service = chain("service", "app", "component")
    k8s = rec.get("kubernetes") if isinstance(rec.get("kubernetes"), dict) else {}

    # top-level namespace/pod override the block (untrimmed, even "")
    ns_top, pod_top = sval(rec, "namespace"), sval(rec, "pod")
    namespace = ns_top if ns_top is not None else (sval(k8s, "namespace_name") or "")
    pod = pod_top if pod_top is not None else (sval(k8s, "pod_name") or "")
    node_top = sval(rec, "node")
    node_pre = strip(node_top) if node_top is not None else (sval(k8s, "node_name") or "")
    node = node_pre if node_pre != "" else strip(sval(rec, "hostname") or "")
    trace_id = chain("trace_id", "trace")

    # exact reference error strings + precedence (normalize.go:176-203:
    # timestamp errors first, then missing message, then missing level)
    error = None
    if ts_str == "":
        error = lognorm.ERR_MISSING_TS
    elif not RFC3339_RE.match(ts_str):
        error = f'invalid timestamp "{ts_str}": expected RFC3339'
    else:
        try:
            datetime.fromisoformat(ts_str)
        except ValueError:
            error = f'invalid timestamp "{ts_str}": expected RFC3339'
    if error is None and message == "":
        error = lognorm.ERR_MISSING_MSG
    if error is None and level_raw == "":
        error = lognorm.ERR_MISSING_LEVEL

    fields = {}
    for k, v in rec.items():
        if k in lognorm.EXCLUDED_KEYS:
            continue
        if v is None:
            fields[k] = None
        elif isinstance(v, str):
            fields[k] = v
        elif isinstance(v, bool):
            fields[k] = "true" if v else "false"
        elif isinstance(v, int):
            fields[k] = str(v)
        else:
            # sort_keys: Go's json.Marshal sorts map[string]any keys
            # (maps are unordered); Spark's variant stores object fields
            # key-sorted — both sides agree on sorted order.
            fields[k] = json.dumps(v, separators=(",", ":"), ensure_ascii=False, sort_keys=True)

    return {
        "error": error,
        "level": level_raw.upper(),
        "service": service,
        "namespace": namespace,
        "pod": pod,
        "node": node,
        "message": message,
        "trace_id": trace_id,
        "fields": fields,
    }


@settings(max_examples=8, deadline=None)
@given(st.lists(record, min_size=1, max_size=40))
def test_normalize_matches_model(spark, records):
    lines = [(i, json.dumps(r, ensure_ascii=False)) for i, r in enumerate(records)]
    df = spark.createDataFrame(lines, "line_id int, value string")
    out = lognorm.normalize(lognorm.parse_json(lognorm.scan_lines(df)))
    rows = {
        r["line_id"]: r
        for r in out.select(
            "line_id", "json_ok", "norm_error", "level", "service", "namespace",
            "pod", "node", "message", "trace_id", "fields",
        ).collect()
    }
    for i, rec in enumerate(records):
        got = rows[i]
        assert got["json_ok"] is True
        want = _model(rec)
        if want["error"] is None:
            assert got["norm_error"] is None, (rec, got["norm_error"])
            assert got["level"] == want["level"], rec
        else:
            # exact error text AND precedence must match the reference
            assert got["norm_error"] == want["error"], (rec, got["norm_error"], want["error"])
        for col in ("service", "namespace", "pod", "node", "message", "trace_id"):
            assert got[col] == want[col], (col, rec, got[col], want[col])
        assert dict(got["fields"] or {}) == want["fields"], (rec, got["fields"], want["fields"])
