"""Streaming corpus ingestion: the continuous front door of a
training-data pipeline.

A Structured Streaming query that, per micro-batch, (1) canonicalizes
and digests incoming documents, (2) applies the cheap quality gate,
(3) deduplicates WITHIN the batch (first-seen doc per digest, ties to
the lowest doc_id), (4) deduplicates AGAINST the accumulated corpus via
a LeftAnti join on the persistent digest index, and (5) appends the
survivors to a batch-partitioned corpus plus their digests to the
index.

Exactly-once mechanics (no table format available, same discipline as
streaming/rollup.py): both sinks are parquet directories PARTITIONED BY
the micro-batch id and written with dynamic partition overwrite — a
replayed batch (crash anywhere between the two writes and the
checkpoint commit) rewrites ITS OWN partitions with the same rows and
cannot touch any other batch's files. The anti-join alone is NOT
sufficient for idempotency: a crash after the corpus write but before
the index write would otherwise re-append the same documents on
replay; batch-keyed overwrite closes that window.

Scale shape: the gate and digest are map-side expressions; in-batch
dedup is one hash-agg on the 32-byte digest; the corpus-dedup
anti-join is keyed on the digest — the index side carries ONE digest
string per corpus document, not documents, so at 100 TB the join
shuffles digests only (or broadcasts the batch side, which AQE picks
whenever the micro-batch is small — the common case).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from k8s_log_etl_spark.functions.textops import canonical_hash, words

MIN_TOKENS = 5      # quality gate: reject near-empty fragments
MAX_TOKENS = 100_000


def _gate(df: DataFrame) -> DataFrame:
    n_tok = F.size(words(F.col("text")))
    return df.filter((n_tok >= MIN_TOKENS) & (n_tok <= MAX_TOKENS))


def ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    index_dir: str,
) -> None:
    """Process one micro-batch (the foreachBatch body, callable
    directly for replay tests): gate → digest → in-batch dedup →
    corpus-index anti-join → batch-partitioned appends."""
    digested = _gate(batch_df).withColumn("digest", canonical_hash(words(F.col("text"))))
    # in-batch dedup: keeper = lowest doc_id per digest (min over a
    # doc_id-first struct compares lexicographically by field order,
    # so the whole surviving row is deterministic)
    ordered = ["doc_id"] + [c for c in digested.columns if c not in ("doc_id", "digest")]
    firsts = (
        digested.groupBy("digest")
        .agg(F.min(F.struct(*ordered)).alias("r"))
        .select("digest", *[F.col(f"r.{c}").alias(c) for c in ordered])
    )
    # corpus dedup: drop anything already indexed (keyed anti-join)
    if os.path.exists(index_dir):
        seen = spark.read.parquet(index_dir).select("digest")
        fresh = firsts.join(seen, "digest", "left_anti")
    else:
        fresh = firsts
    # Materialize ONCE before the two writes: both sinks consume the
    # same frame, the gate/dedup/anti-join pipeline runs exactly once,
    # and the second write no longer overwrites an index_dir that its
    # own lineage is reading from (fragile under Spark's
    # "cannot overwrite a path being read from" analysis, and
    # non-idempotent if the frame were recomputed between actions).
    fresh = fresh.withColumn("ingest_batch", F.lit(int(batch_id))).localCheckpoint(
        eager=True
    )
    (
        fresh.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(corpus_dir)
    )
    (
        fresh.select("digest", "ingest_batch")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(index_dir)
    )


def ingest_corpus(
    spark: SparkSession,
    stream_df: DataFrame,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start the continuous ingestion query over a document stream
    (columns: doc_id, text, + any metadata)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(spark, batch_df, batch_id, corpus_dir, index_dir)

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_ingest_output(
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str,
    max_files_per_partition: int = 1,
    target_files: int = 1,
) -> dict[str, int]:
    """Small-files maintenance over the ingest sinks (round-4 verdict
    #4): at production cadence the batch-partitioned corpus accumulates
    thousands of tiny ``ingest_batch=K`` partitions, each holding as
    many fragments as the micro-batch had tasks — death by file count
    on every downstream scan. This wires operators.compaction over
    BOTH sinks: plan (count files per partition), then rewrite each
    over-target partition to `target_files` via the crash-safe
    tmp/old rename swap (recover_compaction runs first, so a crash
    mid-swap on the previous pass is repaired before new work).

    Run it BETWEEN ingest runs (the availableNow trigger drains and
    stops, leaving a natural maintenance window): the rename swap
    leaves a partition path missing for an instant, and an anti-join
    reading the index exactly then would miss that batch's digests.
    Content is proven identical and the read path still
    partition-prunes on ingest_batch afterwards
    (tests/test_rollup.py). Returns partitions rewritten per sink."""
    from k8s_log_etl_spark.operators import compaction as C

    done: dict[str, int] = {}
    for name, path in (("corpus", corpus_dir), ("index", index_dir)):
        todo = C.plan_compaction(
            spark, path, "ingest_batch", max_files_per_partition
        )
        done[name] = C.compact_partitions(
            spark, path, "ingest_batch", todo, target_files
        )
    return done


def forget_ingested(
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str,
    doc_ids: DataFrame,
) -> dict[str, int]:
    """Right-to-be-forgotten over the ingest pair (corpus + digest
    index): remove the named documents from the corpus AND their
    digests from the index, each via operators.forget's partition-
    bounded crash-safe rewrite. Removing the digest matters for
    SEMANTICS, not just hygiene — erasure is not a tombstone: if the
    digest stayed indexed, byte-identical content could never
    legitimately re-enter the corpus (the anti-join would silently
    drop it forever). After this pass, re-ingesting the same text
    lands again as a fresh document (tests/test_forget.py pins the
    round trip).

    Scale shape: one semi-join fetches the victims' digests (keyed on
    doc_id, broadcast key frame), then two independent partition-
    bounded forget passes; nothing touches unaffected batches.

    Ordering is load-bearing (round-5 ADVICE): the index pass runs
    BEFORE the corpus pass. Each pass's swap is crash-safe in
    isolation, but the cross-store pair is only idempotent in this
    order — a crash between the two leaves the victim still in the
    corpus, so a re-run re-derives the digest via the corpus semi-join
    and the (already clean) index delete is a no-op while the corpus
    delete completes. Corpus-first would strand the digest: the re-run
    semi-join against the cleaned corpus finds nothing, the orphan
    digest stays indexed forever, and byte-identical content is
    silently suppressed on every future ingest — exactly the failure
    this function exists to prevent. tests/test_forget.py pins the
    crash-between-stores recovery."""
    from k8s_log_etl_spark.operators.forget import apply_forget

    kd = doc_ids.select("doc_id").distinct().localCheckpoint(eager=True)
    digests = (
        spark.read.parquet(corpus_dir)
        .join(F.broadcast(kd), "doc_id", "leftsemi")
        .select("digest")
        .distinct()
        .localCheckpoint(eager=True)
    )
    i = apply_forget(spark, index_dir, "ingest_batch", digests, "digest")
    c = apply_forget(spark, corpus_dir, "ingest_batch", kd, "doc_id")
    return {
        "corpus_rows_deleted": c["rows_deleted"],
        "index_rows_deleted": i["rows_deleted"],
        "partitions_rewritten": c["partitions"] + i["partitions"],
    }


# ---------------------------------------------------------------------------
# near-dup-suppressing ingest (the streaming face of
# dedup_minhash_incremental)
# ---------------------------------------------------------------------------


def ingest_batch_neardup(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    index_dir: str,
) -> None:
    """Per-micro-batch NEAR-dup suppression: gate, MinHash-sign the
    batch, and drop any doc with a verified banded match (estimate >=
    MINHASH_EST_THRESHOLD) against (a) the persistent BAND index of
    every previously ingested doc or (b) an earlier doc_id in the same
    batch. Survivors append to the batch-partitioned corpus; ALL gated
    docs' band rows (with their full signatures) append to the index —
    suppressed docs are indexed too, so the suppression criterion is
    simply "a verified pair with ANY smaller ingested doc_id exists"
    — both probes carry the a.doc_id < b.doc_id predicate, so a doc
    is NEVER suppressed by a larger-id doc regardless of arrival
    order (round-6 ADVICE). For doc_id-monotone streams the kept set
    is therefore INDEPENDENT of micro-batch boundaries and equal to
    the batch-mode rule (tests/test_neardup_ingest.py streams the
    same corpus in 1/3/7 batches and pins identical corpora, equal
    to the rule derived from dedup_minhash_lsh's pair set); for
    out-of-order streams the late smaller-id doc is correctly KEPT
    (its larger-id twin, already durably ingested, stays — append-only
    stores cannot retract).

    Replay safety (same dynamic-partition-overwrite discipline as
    ingest_batch, plus one addition): the index read filters
    ingest_batch < batch_id, so a replayed batch never sees its own
    crashed attempt's signatures (self-match est = 1.0 would suppress
    the whole batch); partition pruning makes the filter free. Writes
    go corpus first, index second — a crash between them leaves the
    replay re-deriving the identical kept set and overwriting both
    partitions with identical rows.

    Scale shape: signature build is batch-sized (one shingle explode +
    16-way min hash-agg, map-side partials); both suppression probes
    are keyed (band, bsig) equi-joins with verification on candidate
    rows only (index rows carry signatures — no join-back); the index
    grows one band-row set per ingested doc and is the ONLY thing the
    accumulated corpus contributes per batch."""
    from k8s_log_etl_spark.functions import xengine as X
    from k8s_log_etl_spark.queries.dedup import (
        BANDS,
        MINHASH_EST_THRESHOLD,
        NUM_HASHES,
        SEEDS,
        _shingle_array,
    )

    gated = _gate(batch_df)
    sh = gated.select("doc_id", F.explode(_shingle_array()).alias("s"))
    h = X.md5_long(F.col("s"))
    sig = sh.groupBy("doc_id").agg(
        F.array(
            *[F.min(X.minhash_perm(h, a, b)) for a, b in SEEDS]
        ).alias("mh")
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col("mh")[b * 4 + r] for r in range(4)]
                ).alias("bsig"),
            )
            for b in range(BANDS)
        ]
    )
    bands = (
        sig.select("doc_id", "mh", F.explode(band_structs).alias("bs"))
        .select("doc_id", "mh", "bs.band", "bs.bsig")
        .localCheckpoint(eager=True)
    )

    est = (
        sum(
            F.when(F.col("a.mh")[i] == F.col("b.mh")[i], 1).otherwise(0)
            for i in range(NUM_HASHES)
        )
        / float(NUM_HASHES)
    )
    sup = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(est >= MINHASH_EST_THRESHOLD)
        .select(F.col("b.doc_id").alias("doc_id"))
    )
    if os.path.exists(index_dir):
        idx = spark.read.parquet(index_dir).filter(
            F.col("ingest_batch") < int(batch_id)
        )
        vs_index = (
            bands.alias("b")
            .join(
                idx.alias("a"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bsig") == F.col("b.bsig"))
                # round-6 ADVICE: without this the kept set depends on
                # batch cuts when doc_ids arrive out of order — a new
                # SMALLER-id doc would be suppressed against a larger-id
                # indexed doc, diverging from the batch-mode rule
                # ("a verified pair with ANY smaller doc_id exists").
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .filter(est >= MINHASH_EST_THRESHOLD)
            .select(F.col("b.doc_id").alias("doc_id"))
        )
        sup = sup.unionByName(vs_index)
    suppressed = sup.distinct()

    kept = (
        gated.join(suppressed, "doc_id", "left_anti")
        .withColumn("ingest_batch", F.lit(int(batch_id)))
        .localCheckpoint(eager=True)
    )
    all_bands = bands.withColumn(
        "ingest_batch", F.lit(int(batch_id))
    ).localCheckpoint(eager=True)
    (
        kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(corpus_dir)
    )
    (
        all_bands.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(index_dir)
    )


def ingest_corpus_neardup(
    spark: SparkSession,
    stream_df: DataFrame,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous near-dup-suppressing ingestion over a document
    stream (columns: doc_id, text, + metadata) — foreachBatch wiring
    for ingest_batch_neardup, availableNow-drained like
    ingest_corpus."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_neardup(spark, batch_df, batch_id, corpus_dir, index_dir)

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# quality-gated ingest (the streaming face of the trained classifier)
# ---------------------------------------------------------------------------


def ingest_batch_quality(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    weights_path: str,
) -> None:
    """Per-micro-batch QUALITY gating: featurize the batch with the
    shared classifier featurizer, score it against the persisted
    weight table (qc_weights_path — trained once, off the ingest
    path), and append only classifier keeps (zq >= 0) to the
    batch-partitioned corpus. The streaming face of
    quality_gate_serve, and the third member of the ingest family
    beside the exact-digest and near-dup gates.

    Replay safety: same dynamic-partition-overwrite discipline as
    ingest_batch — a replayed batch recomputes the identical kept set
    (scoring is a pure per-row function of text given fixed weights)
    and overwrites its own partition with identical rows. Stateless
    across batches by construction: unlike the near-dup gate there is
    no index, so the kept corpus is trivially independent of
    micro-batch cuts (pinned in tests/test_stream_quality.py).

    Scale shape: per-batch work is one featurize pass + a broadcast
    join against the 153-row weight table + a per-doc integer sum —
    map-side except the per-doc agg; nothing reads the accumulated
    corpus."""
    from k8s_log_etl_spark.queries.text import _qc_features, qc_score_with_weights

    w = spark.read.parquet(weights_path)
    scored = qc_score_with_weights(_qc_features(batch_df), w)
    keep_ids = scored.filter(F.col("zq") >= 0).select("doc_id")
    kept = (
        batch_df.join(F.broadcast(keep_ids), "doc_id", "leftsemi")
        .withColumn("ingest_batch", F.lit(int(batch_id)))
        .localCheckpoint(eager=True)
    )
    (
        kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(corpus_dir)
    )


def ingest_corpus_quality(
    spark: SparkSession,
    stream_df: DataFrame,
    corpus_dir: str,
    weights_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous quality-gated ingestion — foreachBatch wiring for
    ingest_batch_quality, availableNow-drained like ingest_corpus."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_quality(spark, batch_df, batch_id, corpus_dir, weights_path)

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# BM25 index-maintaining ingest (the streaming face of the BM25
# lifecycle: build -> serve -> incremental merge -> THIS)
# ---------------------------------------------------------------------------


# bm25_doc_stats output schemas (queries/llmprep.py) — needed to hand
# back a typed empty index when no segment data files exist yet.
_BM25_POSTINGS_SCHEMA = "doc_id long, term string, tf long, dl long"
_BM25_TERMS_SCHEMA = "term string, df long"
_BM25_TOTALS_SCHEMA = "n long, t long"


def _has_parquet_files(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def ingest_batch_bm25(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
) -> None:
    """Per-micro-batch BM25 index maintenance: compute the batch's
    additive segment stats with THE SAME builder the batch index build
    and the delta-serve merge use (queries/llmprep.bm25_doc_stats) and
    append them as a new SEGMENT — three parquet tables (postings /
    df / totals) each partitioned by ingest_batch. The fourth face of
    the BM25 family (build: text_bm25_retrieval; serve:
    bm25_index_serve; incremental merge: bm25_index_delta_serve;
    continuous: this), mirroring how ingest_batch_neardup completes
    the near-dup family.

    The merged-index law is bm25_index_delta_serve's, generalized from
    2 segments to N: postings union over doc-disjoint segments, df
    summed per term, totals (n, t) summed — all additive because each
    statistic is a doc-disjoint sum. bm25_read_merged applies it at
    read time; tests/test_bm25_ingest.py pins that the merged tables
    over 1/3/7-batch cuts of the same corpus are VALUE-IDENTICAL to
    one-shot batch stats (so every probe over them is too).

    Replay safety (the ingest family's standing discipline): all three
    tables are written with dynamic partition overwrite keyed on
    ingest_batch — a replayed batch (crash anywhere between the three
    writes and the checkpoint commit) rewrites ITS OWN segment with
    the same rows and cannot touch any other segment. Stats are a pure
    function of the batch's rows, so the rewrite is bit-identical.

    Scale shape: per-batch work is one tokenize pass + one (doc, term)
    hash-agg + two segment-local aggregates — batch-sized, map-side
    partials, nothing reads the accumulated index. Query traffic reads
    the merged view, whose df/totals aggregation is sized by segment
    count x segment vocabulary; periodic compaction (folding segments
    into one, which this same law makes a pure re-partition) is the
    amortized background job, exactly mh_corpus_index_path's
    contract."""
    from k8s_log_etl_spark.queries.llmprep import bm25_doc_stats

    batch = batch_df.localCheckpoint(eager=True)  # three consumers
    if batch.isEmpty():
        # Additive identity: a zero-row segment contributes nothing to
        # the merged index, so writing nothing is equally replay-safe
        # (a replayed empty batch is still empty). Skipping the writes
        # also keeps an index fed ONLY empty batches readable —
        # zero-row dynamic-overwrite writes land no postings/df data
        # files, and parquet schema inference over a fileless dir
        # fails; bm25_read_merged returns the typed empty index for
        # that case.
        return
    postings, df, totals = bm25_doc_stats(batch)
    for frame, sub in ((postings, "postings"), (df, "df"), (totals, "totals")):
        (
            frame.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(os.path.join(index_dir, sub))
        )


def bm25_read_merged(
    spark: SparkSession, index_dir: str, max_batch: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Read the segmented ingest index as ONE logical BM25 index:
    (postings, terms, totals) with the same schemas the build-once
    bm25_index_path tables have — postings is the segment union
    (doc-disjoint, so a plain multi-partition read), terms sums df per
    term across segments, totals sums (n, t). This IS the
    bm25_index_delta_serve merge applied N-way; a serve path points
    its probe here unchanged.

    ``max_batch`` restricts the merge to segments with
    ``ingest_batch <= max_batch`` — a partition-pruned filter on the
    partition column (the compaction guard's committed-only read);
    None (the default) merges every segment.

    An index that has seen only empty micro-batches (or none) has no
    segment data files — parquet schema inference cannot run, so this
    returns the typed EMPTY index instead: zero postings, zero terms,
    one (n=0, t=0) totals row (exactly what the aggregates below
    produce over zero segment rows)."""
    if not _has_parquet_files(os.path.join(index_dir, "postings")):
        return (
            spark.createDataFrame([], _BM25_POSTINGS_SCHEMA),
            spark.createDataFrame([], _BM25_TERMS_SCHEMA),
            spark.createDataFrame([(0, 0)], _BM25_TOTALS_SCHEMA),
        )

    def _seg(sub: str) -> DataFrame:
        frame = spark.read.parquet(os.path.join(index_dir, sub))
        if max_batch is not None:
            frame = frame.filter(F.col("ingest_batch") <= int(max_batch))
        return frame

    postings = _seg("postings").drop("ingest_batch")
    terms = _seg("df").groupBy("term").agg(F.sum("df").alias("df"))
    totals = _seg("totals").agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("t"), F.lit(0)).alias("t"),
    )
    return postings, terms, totals


#: Sidecar dropped by ingest_corpus_bm25 next to the index tables,
#: recording the stream's checkpoint location so maintenance
#: (bm25_compact_segments) can find the commit log WITHOUT the caller
#: re-plumbing it. Name is underscore-prefixed so Spark's parquet
#: reader ignores it.
_BM25_CHECKPOINT_SIDECAR = "_ingest_checkpoint"


def _bm25_last_committed(checkpoint_dir: str) -> int | None:
    """Highest micro-batch id the Structured Streaming checkpoint has
    COMMITTED (``<checkpoint>/commits/<batchId>`` files, written by
    HDFSMetadataLog after the batch's foreachBatch body returns).
    None when no batch has ever committed. A segment with id above
    this value can still be REPLAYED on restart — the compaction
    guard's whole reason to exist."""
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return None
    ids = [int(e) for e in os.listdir(commits) if e.isdigit()]
    return max(ids) if ids else None


def bm25_recover_compaction(index_dir: str) -> bool:
    """Repair a bm25_compact_segments swap interrupted by a crash —
    the whole-index sibling of operators/compaction.recover_compaction,
    with the same deterministic-sidecar recognition: the swap uses
    fixed names (``<index>.compact_stage`` / ``<index>.compact_old``),
    so the interrupted state is always one of three shapes:

    - stage present, live index present (crash before the swap): the
      stage may be incomplete — discard it; the live index was never
      touched.
    - old present, live index missing (crash mid-swap): if the stage
      carries its completion marker (``totals/_SUCCESS`` — totals is
      written last, the build-path marker discipline) the fold is
      known-complete: roll forward. Otherwise roll back the old index.
    - old present, live index present (crash after the swap, before
      cleanup): the fold is live — just delete the old dir.

    Returns True if a repair ran. Idempotent; bm25_compact_segments
    calls it first, so a crashed pass self-heals on the next one."""
    stage = index_dir + ".compact_stage"
    old = index_dir + ".compact_old"
    if os.path.exists(old):
        if os.path.exists(index_dir):
            shutil.rmtree(old)
        elif os.path.exists(os.path.join(stage, "totals", "_SUCCESS")):
            os.rename(stage, index_dir)
            shutil.rmtree(old)
        else:
            os.rename(old, index_dir)
            shutil.rmtree(stage, ignore_errors=True)
        return True
    if os.path.exists(stage):
        shutil.rmtree(stage)
        return True
    return False


def bm25_compact_segments(
    spark: SparkSession, index_dir: str, checkpoint_dir: str | None = None
) -> int:
    """Fold ALL batch segments of a streamed BM25 index into ONE — the
    maintenance face the ingest family's docstrings promise: the
    streaming writer grows segment count without bound, and
    bm25_read_merged's measured cost axis is segment COUNT (its df
    re-aggregation is sized by segments x vocabulary; PLANS.md
    round-11: 0.72 s at 8 segments -> 2.58 s at 64 on the same
    corpus). Compaction applies the additive merge law
    (bm25_index_delta_serve's, N-way) ONCE, durably: postings union
    (doc-disjoint), df summed per term, totals summed — so the folded
    segment is VALUE-IDENTICAL to bm25_doc_stats over the union
    corpus, and every later read pays single-segment cost.
    tests/test_bm25_ingest.py pins compacted == uncompacted == the
    oracle-verified build-once index.

    Replay guard (round-12 ADVICE, medium): folding into the highest
    EXISTING batch id is only safe if that batch has COMMITTED — a
    stream that crashed after writing its last segment but before the
    checkpoint commit replays that id on restart, and dynamic
    partition overwrite would then replace the folded segment (the
    whole index) with one batch's stats. So the fold is bounded by the
    checkpoint's commit log: only segments with
    ``ingest_batch <= last committed id`` are folded (into the highest
    COMMITTED id — ids Structured Streaming never reissues);
    uncommitted segments above it are carried through the swap
    byte-for-byte, where a replay rewrites only their own partitions.
    The commit log is found via the explicit ``checkpoint_dir``
    argument or the ``_ingest_checkpoint`` sidecar ingest_corpus_bm25
    drops next to the tables; with NEITHER present the index is in
    manual-batch mode (no checkpoint -> no replay machinery exists)
    and every segment folds, as before. A sidecar-bearing index whose
    checkpoint has no commit yet folds nothing.

    Crash safety is the whole-index staged swap (_bm25_index_build's
    shape, plus the old-dir hop): stage the three folded tables
    (totals last — its _SUCCESS is the completion marker), then
    rename live -> .compact_old, stage -> live, delete old.
    bm25_recover_compaction repairs any window deterministically.

    Scale shape: one full read of the segmented index + one write —
    the same bill as the one-shot batch build over the same corpus,
    amortized over the reads it accelerates; the df fold is a
    map-side-partial hash-agg to |vocab| rows, postings move
    shuffle-free (union is read-repartition only). Returns the number
    of segments folded (0 = nothing to do)."""
    bm25_recover_compaction(index_dir)
    totals_dir = os.path.join(index_dir, "totals")
    if not os.path.exists(totals_dir):
        return 0
    ids = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(totals_dir)
        if e.startswith("ingest_batch=")
    )
    if checkpoint_dir is None:
        sidecar = os.path.join(index_dir, _BM25_CHECKPOINT_SIDECAR)
        if os.path.exists(sidecar):
            with open(sidecar, encoding="utf-8") as fh:
                checkpoint_dir = fh.read().strip()
    if checkpoint_dir is not None:
        last = _bm25_last_committed(checkpoint_dir)
        fold_ids = [] if last is None else [k for k in ids if k <= last]
    else:
        fold_ids = ids
    if len(fold_ids) <= 1:
        return 0
    carried = [k for k in ids if k not in set(fold_ids)]
    postings, terms, totals = bm25_read_merged(
        spark, index_dir, max_batch=fold_ids[-1] if carried else None
    )
    stage = index_dir + ".compact_stage"
    shutil.rmtree(stage, ignore_errors=True)
    new_id = fold_ids[-1]
    for frame, sub in ((postings, "postings"), (terms, "df"), (totals, "totals")):
        (
            frame.withColumn("ingest_batch", F.lit(int(new_id)))
            .write.partitionBy("ingest_batch")
            .parquet(os.path.join(stage, sub))
        )
    marker = os.path.join(stage, "totals", "_SUCCESS")
    if carried:
        # Carry uncommitted segments through the swap byte-for-byte.
        # The totals/_SUCCESS marker means "stage is complete" to
        # bm25_recover_compaction, so it must not exist until the
        # carried partitions are in place — drop it, copy, restore.
        os.remove(marker)
        for sub in ("postings", "df", "totals"):
            for k in carried:
                part = os.path.join(index_dir, sub, f"ingest_batch={k}")
                if os.path.isdir(part):  # empty batches land no files
                    shutil.copytree(
                        part, os.path.join(stage, sub, f"ingest_batch={k}")
                    )
        open(marker, "w", encoding="utf-8").close()
    sidecar = os.path.join(index_dir, _BM25_CHECKPOINT_SIDECAR)
    if os.path.exists(sidecar):
        shutil.copy2(sidecar, os.path.join(stage, _BM25_CHECKPOINT_SIDECAR))
    old = index_dir + ".compact_old"
    os.rename(index_dir, old)
    os.rename(stage, index_dir)
    shutil.rmtree(old)
    return len(fold_ids)


def ingest_corpus_bm25(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous BM25 index maintenance over a document stream
    (columns: doc_id, text, + metadata) — foreachBatch wiring for
    ingest_batch_bm25, availableNow-drained like ingest_corpus.

    Drops the ``_ingest_checkpoint`` sidecar into the index dir so
    bm25_compact_segments can locate the checkpoint's commit log and
    bound its fold to committed segments (the replay guard) without
    the maintenance caller re-plumbing the checkpoint path."""
    os.makedirs(index_dir, exist_ok=True)
    with open(
        os.path.join(index_dir, _BM25_CHECKPOINT_SIDECAR),
        "w",
        encoding="utf-8",
    ) as fh:
        fh.write(checkpoint_dir)

    def run(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_bm25(spark, batch_df, batch_id, index_dir)

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
