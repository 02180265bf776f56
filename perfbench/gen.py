"""Seeded input generators for the benchmark.

Every generator takes its seed as an argument and nothing else that
varies between runs: the same seed gives byte-identical inputs. The
program under test only ever sees the generated files.

Log lines (``log_lines``) mix the shapes the normalizer handles:

* ~50% canonical keys (ts/level/msg/service/namespace/pod/node/trace_id)
* ~45% alias keys (time/severity/message/app plus a ``kubernetes`` block)
* ~2% component/hostname variants
* ~1% malformed JSON (truncated objects) and ~1% objects without ts/time
* ~85% carry PII keys (``user_email`` and/or ``token``), every line has
  2-5 residual fields

Every message ends in ``#<line id>`` so a checker can tell exactly which
lines reached a sink.

Documents (``documents``) are ~80% unique, ~10% exact duplicates of an
earlier document (case or whitespace variants) and ~10% near duplicates
(~5% of words substituted, trigram Jaccard well above 0.5).
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

LEVELS = (("INFO", 50), ("WARN", 25), ("ERROR", 15), ("DEBUG", 10))
SERVICES = tuple(f"svc-{n}" for n in (
    "api", "auth", "billing", "cart", "catalog", "checkout", "gateway",
    "inventory", "notify", "orders", "search", "users",
))
NAMESPACES = ("prod", "staging", "payments", "platform")
VERBS = ("GET", "POST", "PUT", "DELETE", "PATCH")
ROUTES = ("/api/v1/items", "/api/v1/users", "/login", "/health", "/cart/add",
          "/orders", "/search", "/metrics")
RESIDUAL = ("status", "latency_ms", "method", "path", "bytes", "region",
            "retry", "tags", "ctx", "user_agent")
BASE_TS = datetime(2024, 3, 1, tzinfo=timezone.utc)

# line-shape mix, percent
_SHAPES = (("canonical", 51), ("alias", 45), ("component", 2),
           ("malformed", 1), ("missing_ts", 1))


def _pick_weighted(rng: random.Random, table) -> str:
    r = rng.randrange(sum(w for _, w in table))
    for name, w in table:
        if r < w:
            return name
        r -= w
    raise AssertionError("unreachable")


def _rfc3339(ts: datetime, rng: random.Random) -> str:
    frac = ts.strftime("%f")
    style = rng.randrange(4)
    if style == 0:
        body = ts.strftime("%Y-%m-%dT%H:%M:%S")
    elif style == 1:
        body = ts.strftime("%Y-%m-%dT%H:%M:%S.") + frac[:3]
    else:
        body = ts.strftime("%Y-%m-%dT%H:%M:%S.") + frac
    return body + ("+00:00" if style == 3 else "Z")


def _residual_value(key: str, rng: random.Random):
    if key == "status":
        return rng.choice((200, 201, 204, 400, 404, 500, 503))
    if key == "latency_ms":
        return round(rng.uniform(0.5, 900.0), 3)
    if key == "method":
        return rng.choice(VERBS)
    if key == "path":
        return rng.choice(ROUTES)
    if key == "bytes":
        return rng.randrange(0, 1 << 20)
    if key == "region":
        return rng.choice(("us-east-1", "eu-west-1", "ap-south-1"))
    if key == "retry":
        return rng.random() < 0.1
    if key == "tags":
        return [rng.choice(("a", "b", "canary", "edge")) for _ in range(rng.randrange(1, 4))]
    if key == "ctx":
        return {"cluster": rng.choice(("c1", "c2")), "zone": rng.randrange(3)}
    return rng.choice(("curl/8.4", "Mozilla/5.0", "kube-probe/1.29"))


def log_line(rng: random.Random, line_id: int, ts: datetime) -> str:
    """One JSONL line (no trailing newline) for global line id ``line_id``."""
    shape = _pick_weighted(rng, _SHAPES)
    level = _pick_weighted(rng, LEVELS)
    if rng.random() < 0.2:
        level = level.lower()
    svc = rng.choice(SERVICES)
    ns = rng.choice(NAMESPACES)
    pod = f"{svc}-{rng.randrange(1 << 16):04x}"
    node = f"node-{rng.randrange(16)}"
    msg = f"{rng.choice(VERBS)} {rng.choice(ROUTES)} took {rng.randrange(1, 999)}ms #{line_id}"
    trace = f"{rng.getrandbits(64):016x}"
    ts_s = _rfc3339(ts, rng)
    if shape == "alias":
        rec = {"time": ts_s, "severity": level, "message": msg, "app": svc,
               "kubernetes": {"namespace_name": ns, "pod_name": pod, "node_name": node},
               "trace": trace}
    elif shape == "component":
        rec = {"ts": ts_s, "level": level, "msg": msg, "component": svc,
               "hostname": f" {node} ", "namespace": ns}
    else:
        rec = {"ts": ts_s, "level": level, "msg": msg, "service": svc,
               "namespace": ns, "pod": pod, "node": node, "trace_id": trace}
    if shape == "missing_ts":
        rec.pop("ts", None)
    if rng.random() < 0.85:
        if rng.random() < 0.7:
            rec["user_email"] = f"user{rng.randrange(10**6)}@example.com"
        if rng.random() < 0.6 or "user_email" not in rec:
            rec["token"] = f"tok_{rng.getrandbits(48):012x}"
    for key in rng.sample(RESIDUAL, rng.randrange(2, 6)):
        rec[key] = _residual_value(key, rng)
    line = json.dumps(rec)
    if shape == "malformed":
        line = line[: rng.randrange(5, len(line) - 5)]
    return line


def log_lines(seed: int, n: int, first_id: int = 0) -> list[str]:
    """``n`` seeded JSONL lines with global ids ``first_id..first_id+n-1``,
    10 ms apart in event time."""
    rng = random.Random(f"logs/{seed}/{first_id}")
    return [
        log_line(rng, first_id + i, BASE_TS + timedelta(milliseconds=(first_id + i) * 10))
        for i in range(n)
    ]


def write_log_dir(path: str, lines: list[str], n_files: int) -> None:
    """Split ``lines`` into ``n_files`` contiguous JSONL files under ``path``
    (line order preserved, so line ids stay global)."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(lines) // n_files)
    for k in range(n_files):
        with open(os.path.join(path, f"part-{k:04d}.jsonl"), "w", encoding="utf-8") as fh:
            fh.write("".join(ln + "\n" for ln in lines[k * per:(k + 1) * per]))


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

LANGS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}
_SYLLABLES = ("ka", "ro", "mi", "tu", "ne", "sa", "lo", "vi", "de", "po",
              "ri", "gu", "an", "el", "on", "us", "ba", "ze", "qi", "fo")


def _vocab(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randrange(2, 5))))
    return sorted(words)


def documents(seed: int, n: int) -> dict[str, list]:
    """Seeded documents table as columns doc_id/lang/text/source.

    Planted duplicates always copy an earlier unique document, so each
    duplicate group keeps its lowest doc_id."""
    rng = random.Random(f"docs/{seed}")
    vocab = _vocab(rng, 6000)
    ids, langs, texts = [], [], []
    words_of: list[list[str]] = []
    uniques: list[int] = []
    for i in range(n):
        kind = rng.random()
        if uniques and kind < 0.10:
            j = rng.choice(uniques)
            w = words_of[j]
            variant = rng.randrange(3)
            if variant == 0:
                text = " ".join(w).upper()
            elif variant == 1:
                text = "  " + "   ".join(w) + " \n"
            else:
                text = " ".join(x.capitalize() for x in w)
            lang = langs[j]
        elif uniques and kind < 0.20:
            j = rng.choice(uniques)
            w = [rng.choice(vocab) if rng.random() < 0.05 else x for x in words_of[j]]
            text = " ".join(w)
            lang = langs[j]
        else:
            lang = rng.choice(tuple(LANGS))
            markers = LANGS[lang]
            w = [rng.choice(markers) if rng.random() < 0.05 else rng.choice(vocab)
                 for _ in range(rng.randrange(60, 301))]
            text = " ".join(w)
            uniques.append(i)
        ids.append(i)
        langs.append(lang)
        texts.append(text)
        words_of.append(text.split())
    return {"doc_id": ids, "lang": langs, "text": texts,
            "source": [f"crawl-{i % 7}" for i in range(n)]}


def write_documents(path: str, docs: dict[str, list], n_files: int) -> None:
    """Write the documents table as ``n_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "lang": pa.array(docs["lang"], pa.string()),
        "text": pa.array(docs["text"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
    })
    per = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per, per), os.path.join(path, f"part-{k:04d}.parquet"))
