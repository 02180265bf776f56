"""The canonical document hash (`functions.textops.canonical_hash`) is
stored in `--state-path` tables and the stream ingest index, so its
values are pinned: a change would silently break dedup against state
written earlier."""

from __future__ import annotations

from pyspark.sql import functions as F

from k8s_log_etl_spark.functions.textops import canonical_hash, words

PINNED = [
    ("Hello  World", "5eb63bbbe01eeed093cb22bb8f5acdc3"),
    ("  hello world  ", "5eb63bbbe01eeed093cb22bb8f5acdc3"),
    ("HELLO\tWORLD\n", "5eb63bbbe01eeed093cb22bb8f5acdc3"),
    ("", "d41d8cd98f00b204e9800998ecf8427e"),
    ("   ", "d41d8cd98f00b204e9800998ecf8427e"),
    ("İstanbul ẞtraße", "03e6bdf3de0a53562eeaf98245a19b0e"),
    ("x\x0by\x0cz\r\n", "a0971f3c1fc2d4c967b3cd362cc29f48"),
]


def test_canonical_hash_pinned_values(spark):
    df = spark.createDataFrame([(t,) for t, _ in PINNED], "text string")
    got = [r["h"] for r in df.select(canonical_hash(words(F.col("text"))).alias("h")).collect()]
    assert got == [h for _, h in PINNED]

