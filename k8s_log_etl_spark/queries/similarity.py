"""Similarity search over the embeddings table (§2c charter):
brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH bucketed variant as the sub-quadratic scale path.

Determinism: dot products are sequential double sums (bit-identical to
the DuckDB oracle, see functions.xengine); top-k windows are fully
tie-broken by vec_id; hyperplane directions come from a deterministic
integer formula both engines evaluate exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k8s_log_etl_spark.functions import xengine as X
from k8s_log_etl_spark.plans.registry import register
from k8s_log_etl_spark.tables import (
    ensure_min_parallelism,
    load_table,
    spill_checkpoint,
)

N_QUERIES = 10   # vec_id < 10 are the query vectors; the rest the corpus
TOP_K = 5
N_PLANES = 8
DIM = 64

# Deterministic pseudo-random hyperplane weights: integer in [-6, 6].
# r[j][i] = ((j * 31 + i * 17) % 13) - 6, exact in both engines.



def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with the vector INGEST validity contract
    applied (round-7 pathological-vector sweep): NULL embeddings and
    zero-norm vectors are dropped before any similarity math — a zero
    norm divides by zero inside every cosine under ANSI mode, and a
    NULL embedding reaches Arrow kernels / driver collects as None.
    A production pipeline enforces exactly this at ingest (dim + norm
    validation); the driver fixtures are always valid, so filtered and
    unfiltered results are identical there and every oracle row is
    unaffected."""
    e = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    # round-13: unrolled fixed-dim squared norm (guide §4.1) — the
    # aggregate lambda ran interpreted on EVERY vector load of every
    # knn path; same doubles, same sequential add order, now codegen'd.
    sq_norm = F.expr(X.dot_fixed_sql("embedding", "embedding", DIM))
    return e.filter(F.col("embedding").isNotNull() & (sq_norm > 0))


def _plane_weight(j: int, i: int) -> int:
    return ((j * 31 + i * 17) % 13) - 6


def _proj_spark(vec: str, j: int) -> F.Column:
    """Signed projection of the embedding column NAMED `vec` onto
    integer hyperplane j — round-13 unrolled to ONE SQL string (guide
    §4.1): the former zip_with/aggregate dot evaluated interpreted per
    row and its 64 literal lit() calls cost py4j driver wall per plane.
    The unrolled chain performs the identical double multiplies/adds in
    the same sequential order (leading 0.0 kept), so projections are
    bit-identical, now inside whole-stage codegen."""
    terms = " + ".join(
        f"(CAST(try_element_at({vec}, {i + 1}) AS DOUBLE)"
        f" * CAST({float(_plane_weight(j, i))!r} AS DOUBLE))"
        for i in range(DIM)
    )
    return F.expr(f"(CAST(0.0 AS DOUBLE) + {terms})")


def _proj_sql(vec: str, j: int) -> str:
    terms = " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * {float(_plane_weight(j, i))}" for i in range(DIM)
    )
    return f"({terms})"


def _bucket_spark(vec: str) -> F.Column:
    return sum(
        F.when(_proj_spark(vec, j) > 0, F.lit(1 << j)).otherwise(0) for j in range(N_PLANES)
    )


def _bucket_sql(vec: str) -> str:
    return " + ".join(
        f"(CASE WHEN {_proj_sql(vec, j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )


_BRUTE_SQL = f"""
SELECT query_id, vec_id, cos_sim, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round({X.cosine_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {X.cosine_sql('q.embedding', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id >= {N_QUERIES}) c
) WHERE rnk <= {TOP_K}
"""


@register("knn_brute_cosine", oracle=_BRUTE_SQL, tags=("similarity",))
def knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine: broadcast the (small) query set against the
    corpus — one narrow pass over the corpus, no shuffle until the
    per-query top-k window. At cluster scale the corpus side stays
    partition-parallel and only k rows per query per partition survive
    (WindowGroupLimit)."""
    e = load_vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES)
    cos = X.cosine_fixed("q_emb", "embedding", DIM)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", cos.alias("cos_raw"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim"), "rnk")
    )


# Multi-probe: each query probes its own bucket plus the N_PLANES
# Hamming-1 buckets (one sign bit flipped). Within ONE table a corpus
# vector lives in exactly one bucket, so per-table probing can't
# duplicate candidates — but with OR-amplification across N_TABLES
# independent tables the same (query, vector) pair can surface from
# several tables, so the candidate union is deduplicated before the
# exact re-rank.
PROBE_XORS = [0] + [1 << j for j in range(N_PLANES)]

# OR-amplification (round-4 recall lift): N_TABLES independent
# hyperplane tables, each N_PLANES signs; a candidate is anything that
# collides with the query in ANY table's probed buckets. True top-5
# neighbors here sit near cos 0.3 (plane-agreement p ≈ 0.61), so one
# 8-plane table with Hamming-1 probes caps at per-table hit prob
# q ≈ p^8 + 8 p^7 (1-p) ≈ 0.12 (the measured 0.18 recall of round 3);
# eight OR'd tables lift that to 1-(1-q)^8 ≈ 0.6. Measured at sf0.01:
# recall@5 = 0.60. Candidate bound per query: N_TABLES·(N_PLANES+1)
# expected bucket loads = 72·N/2^8 ≈ 0.28·N — a constant-factor scan
# reduction vs brute at fixed P, with P the knob that grows with
# log2(N) to hold bucket loads (and thus the candidate fraction) down
# as the corpus scales.
N_TABLES = 8
_LSH_SEED = 0xA55

# --- index-parameter growth policies (round-4 verdict #2) -----------------
# The registered queries run under the driver's correctness gate at
# sf0.01, whose embeddings table holds REGISTERED_CORPUS_N vectors; the
# constants above are ANCHORED there: policy(REGISTERED_CORPUS_N) must
# reproduce them exactly (pinned in tests/test_approx.py), and the
# same functions produce the grown parameters the synthetic-sf1 recall
# test runs with. Oracle SQL strings are built at import from the
# fixed constants, so the registered queries stay engine-deterministic
# at every sf_dir; scale runs call the parameterized search paths
# below with policy(n) directly.
REGISTERED_CORPUS_N = 500

# Plane-agreement probability of a true top-5 neighbor on the
# synthetic corpus (cos ~ 0.3 => p = 1 - acos(0.3)/pi ~ 0.61), the
# basis of the table-growth rule below.
LSH_NOMINAL_P = 0.61


def lsh_planes_for(n: int) -> int:
    """P grows with log2(n): expected bucket occupancy n/2^P is held
    at the ~2-per-bucket anchor (500 vectors / 2^8), so candidate
    lists stay bounded as the corpus scales."""
    import math

    return max(4, round(math.log2(max(n, 16))) - 1)


def _lsh_table_hit_prob(planes: int, p: float = LSH_NOMINAL_P) -> float:
    """Per-table probability that a true neighbor lands within
    Hamming-1 of the query's bucket: p^P + P p^(P-1) (1-p)."""
    return p**planes + planes * p ** (planes - 1) * (1 - p)


def lsh_tables_for(n: int) -> int:
    """OR-amplification compensates plane growth: each extra plane
    cuts the per-table hit probability q(P) roughly by p, so T grows
    ~ q(P_anchor)/q(P(n)) to hold union recall 1-(1-q)^T roughly flat.
    Candidate fraction T(n)*(P(n)+1)/2^P(n) still SHRINKS as n grows
    (0.28 at the 500-vector anchor -> ~0.11 at 20k), so the index
    stays sub-quadratic while recall holds."""
    import math

    p_anchor = lsh_planes_for(REGISTERED_CORPUS_N)
    q_anchor = _lsh_table_hit_prob(p_anchor)
    q_n = _lsh_table_hit_prob(lsh_planes_for(n))
    return max(1, math.ceil(N_TABLES * q_anchor / q_n))


def _table_weights(
    n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> list[list[int]]:
    """Seeded integer weights in [-9, 9], one row per (table, plane).
    Both engines consume the same inlined literals, so there is no
    shared closed-form to keep in sync (the round-3 formula's mod-13
    lattice only admits 13 distinct planes — too few for 64)."""
    import random

    rng = random.Random(_LSH_SEED)
    return [[rng.randint(-9, 9) for _ in range(DIM)] for _ in range(n_tables * n_planes)]


_W = _table_weights()


def _mt_proj_sql(vec: str, t: int, j: int) -> str:
    terms = " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * {float(w)}"
        for i, w in enumerate(_W[t * N_PLANES + j])
    )
    return f"({terms})"


def _mt_signatures(
    df: DataFrame,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    weights: list[list[int]] | None = None,
) -> DataFrame:
    """All N_TABLES bucket ids per vector in one Arrow-vectorized pass.

    The naive Spark form — 64 `aggregate(zip_with(...))` projections per
    row — is interpreted per element (higher-order functions never enter
    codegen) and measured 4-6 s at sf0.1; inlining 4096 arithmetic terms
    instead OOMs janino. This mapInPandas batches over VECTORS while
    iterating dims sequentially (`acc += V[:, i] * W[i, :]` — per vector
    that is exactly the left-to-right double fold `((0 + v0·w0) + v1·w1)
    + …`), so every projection is bit-identical to the oracle's inlined
    left-associative sum expression (`_mt_proj_sql` emits the flat
    `v[1]*w0 + v[2]*w1 + …`, which DuckDB folds left-to-right in the
    same order) and the engine-exact sign test is preserved, at numpy
    speed. Runs map-side, no shuffle; at cluster scale each partition
    streams its Arrow batches through independently."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    w = _W if weights is None else weights
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(f"b{t}", LongType()) for t in range(n_tables)]
    )
    wmat = np.array(w, dtype=np.float64).T  # (DIM, n_tables*n_planes)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((len(pdf), n_tables * n_planes))
            for i in range(DIM):
                acc += V[:, i : i + 1] * wmat[i]
            bits = acc > 0
            out = {c: pdf[c] for c in pdf.columns}
            for t in range(n_tables):
                bt = np.zeros(len(pdf), dtype=np.int64)
                for j in range(n_planes):
                    bt += bits[:, t * n_planes + j].astype(np.int64) << j
                out[f"b{t}"] = bt
            yield pd.DataFrame(out)

    return df.mapInPandas(fn, out_schema)


def _mt_bucket_sql(vec: str, t: int) -> str:
    return " + ".join(
        f"(CASE WHEN {_mt_proj_sql(vec, t, j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )


def _lsh_sql() -> str:
    buckets = ", ".join(
        f"{_mt_bucket_sql('embedding', t)} AS b{t}" for t in range(N_TABLES)
    )
    corpus_tb = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, b{t} AS bucket FROM buck WHERE vec_id >= {N_QUERIES}"
        for t in range(N_TABLES)
    )
    probe_tb = " UNION ALL ".join(
        f"SELECT vec_id AS query_id, {t} AS t, xor(b{t}, p.v) AS bucket "
        f"FROM buck, (SELECT unnest([{', '.join(str(x) for x in PROBE_XORS)}]) AS v) p "
        f"WHERE vec_id < {N_QUERIES}"
        for t in range(N_TABLES)
    )
    return f"""
WITH buck AS (
  SELECT vec_id, embedding, {buckets} FROM embeddings
),
ct AS ({corpus_tb}),
qt AS ({probe_tb}),
cand AS (
  SELECT DISTINCT qt.query_id, ct.vec_id
  FROM qt JOIN ct ON qt.t = ct.t AND qt.bucket = ct.bucket
)
SELECT query_id, vec_id, cos_sim, rnk FROM (
  SELECT cand.query_id, cand.vec_id,
         round({X.cosine_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY cand.query_id
           ORDER BY {X.cosine_sql('q.embedding', 'c.embedding')} DESC, cand.vec_id
         ) AS rnk
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.vec_id
) WHERE rnk <= {TOP_K}
"""


_LSH_SQL = _lsh_sql()


@register("knn_lsh_hyperplane", oracle=_LSH_SQL, tags=("similarity",), bench=True)
def knn_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k with OR-amplified multi-probe LSH: N_TABLES
    independent 8-plane sign tables (AND within a table, OR across
    tables — the classic (r, cr, p1, p2)-amplification), each probed at
    the query's own bucket plus all Hamming-1 neighbors. Measured
    recall@5 at sf0.01: 0.60 (vs 0.18 for round 3's single table);
    candidate bound per query is N_TABLES·(N_PLANES+1)·N/2^N_PLANES
    ≈ 0.28·N, with N_PLANES the log2(N) knob that holds the fraction
    down as the corpus grows — see the constant's comment.

    Plan shape: the corpus computes its 8 bucket ids in one Arrow-
    vectorized map-side pass (see _mt_signatures — bit-identical
    sequential folds at numpy speed) and explodes to (table, bucket)
    pairs map-side — it never shuffles its embeddings; the probe
    fan-out multiplies only the tiny broadcast query side (|queries| ×
    N_TABLES × 9 rows). Cosine is computed map-side after the
    broadcast equi-join, cross-table duplicate candidates collapse in
    ONE narrow hash-aggregate ((query_id, vec_id, cos) rows — the
    scores of duplicates are bit-identical, max() just picks the one),
    and the per-query top-k window runs over the deduped candidate
    set. Never a cross join. Recall tracked by ann_recall_eval; the
    same search body runs at synthetic-sf1 scale with policy-grown
    (T, P) in tests/test_approx.py (see lsh_planes_for)."""
    e = load_vectors(spark, sf_dir)
    return _lsh_search(e)


def _lsh_search(
    e: DataFrame,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """The OR-amplified multi-probe search body, parameterized on
    (n_tables, n_planes) so the scale recall harness can run it with
    policy-grown constants; the registered query's defaults keep the
    oracle-verified shape byte-identical."""
    weights = (
        None
        if (n_tables, n_planes) == (N_TABLES, N_PLANES)
        else _table_weights(n_tables, n_planes)
    )
    probe_xors = [0] + [1 << j for j in range(n_planes)]
    # Round-13 (guide §4.1): split query/corpus BEFORE the opaque
    # Arrow signature pass. The former single `buck` frame had two
    # consumers (broadcast q build, corpus join side) and mapInPandas
    # is opaque to Spark, so the WHOLE signature pass executed twice —
    # once per consumer — and the vec_id filters could not push below
    # it. Filtering first pushes each predicate into the scan and
    # signs every vector exactly once; per-row signatures are
    # independent, so results are identical.
    src = e.select("vec_id", "embedding")
    qbuck = _mt_signatures(
        src.filter(F.col("vec_id") < N_QUERIES), n_tables, n_planes, weights
    )
    cbuck = _mt_signatures(
        src.filter(F.col("vec_id") >= N_QUERIES), n_tables, n_planes, weights
    )
    # Round-13 (guide §1): the probe fan-out is n_tables × (n_planes+1)
    # structs — built per element through py4j it cost 1.17 s of driver
    # wall (cProfile); as ONE JVM-parsed SQL string it is a single
    # round trip producing the identical expression tree.
    probe_pairs = F.expr(
        "explode(array("
        + ", ".join(
            f"named_struct('t', {t}, 'bucket', b{t} ^ {x})"
            for t in range(n_tables)
            for x in probe_xors
        )
        + "))"
    )
    q = (
        qbuck
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            probe_pairs.alias("p"),
        )
        .select("query_id", "q_emb", F.col("p.t").alias("t"), F.col("p.bucket").alias("bucket"))
    )
    corpus_pairs = F.expr(
        "explode(array("
        + ", ".join(
            f"named_struct('t', {t}, 'bucket', b{t})" for t in range(n_tables)
        )
        + "))"
    )
    c = (
        cbuck
        .select("vec_id", "embedding", corpus_pairs.alias("p"))
        .select("vec_id", "embedding", F.col("p.t").alias("t"), F.col("p.bucket").alias("bucket"))
    )
    cos = X.cosine_fixed("q_emb", "embedding", DIM)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        c.join(F.broadcast(q), ["t", "bucket"])
        .select("query_id", "vec_id", cos.alias("cos_dup"))
        .groupBy("query_id", "vec_id")
        .agg(F.max("cos_dup").alias("cos_raw"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim"), "rnk")
    )


# ---------------------------------------------------------------------------
# IVF-style grid quantization with multi-probe
# ---------------------------------------------------------------------------

GRID_STEP = 25.0  # cell width over the two coarse projection axes


def _cell_spark(vec: str, j: int) -> F.Column:
    return F.floor(_proj_spark(vec, j) / GRID_STEP).cast("long")


def _cell_sql(vec: str, j: int) -> str:
    return f"CAST(floor({_proj_sql(vec, j)} / {GRID_STEP}) AS BIGINT)"


_IVF_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding,
         {_cell_sql('embedding', 0)} AS c0, {_cell_sql('embedding', 1)} AS c1
  FROM embeddings WHERE vec_id >= {N_QUERIES}
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb,
         {_cell_sql('embedding', 0)} + dx.v AS c0, {_cell_sql('embedding', 1)} + dy.v AS c1
  FROM embeddings,
       (SELECT unnest([-1, 0, 1]) AS v) dx,
       (SELECT unnest([-1, 0, 1]) AS v) dy
  WHERE vec_id < {N_QUERIES}
)
SELECT query_id, vec_id, cos_sim, rnk FROM (
  SELECT q.query_id, c.vec_id,
         round({X.cosine_sql('q.q_emb', 'c.embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY {X.cosine_sql('q.q_emb', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM q JOIN corpus c ON q.c0 = c.c0 AND q.c1 = c.c1
) WHERE rnk <= {TOP_K}
"""


@register("knn_ivf_grid", oracle=_IVF_SQL, tags=("similarity",))
def knn_ivf_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantization into a 2-D grid of cells over
    two deterministic projection axes; each query multi-probes its own
    cell plus the 8 neighbors (the recall knob an inverted-file index
    turns), then exact cosine re-ranks within candidates. The probe
    join is an equi-join on cell id — sub-quadratic like the LSH
    variant but with tunable probe radius instead of bucket count."""
    e = load_vectors(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", "embedding",
        _cell_spark("embedding", 0).alias("c0"),
        _cell_spark("embedding", 1).alias("c1"),
    )
    probes = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _cell_spark("embedding", 0).alias("q0"),
            _cell_spark("embedding", 1).alias("q1"),
            probes.alias("p"),
        )
        .select(
            "query_id", "q_emb",
            (F.col("q0") + F.col("p.dx")).alias("c0"),
            (F.col("q1") + F.col("p.dy")).alias("c1"),
        )
    )
    cos = X.cosine_fixed("q_emb", "embedding", DIM)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        corpus.join(F.broadcast(q), ["c0", "c1"])
        .select("query_id", "vec_id", cos.alias("cos_raw"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim"), "rnk")
    )


# ---------------------------------------------------------------------------
# per-label centroids via grouped-map applyInPandas
# ---------------------------------------------------------------------------

_CENTROID_SQL = f"""
SELECT label, CAST(ord - 1 AS INTEGER) AS dim, round(avg(v), 6) AS centroid
FROM (
  SELECT label,
         unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS ord
  FROM embeddings
)
GROUP BY label, ord
"""


@register("embedding_centroids", oracle=_CENTROID_SQL, tags=("similarity",))
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via grouped-map applyInPandas
    (Arrow batch per label, numpy column mean) — the vectorized
    grouped-custom-aggregation path (an IVF coarse-quantizer training
    step). Output long-form (label, dim, centroid) for the oracle.
    Rounded to 6 dp: numpy's pairwise summation and SQL's sequential
    avg differ in the last ulps."""
    import pandas as pd  # noqa: F401 — worker-side dependency

    e = load_vectors(spark, sf_dir)

    def centroid(pdf):
        import numpy as np
        import pandas as pd

        label = int(pdf["label"].iloc[0])
        mat = np.vstack(pdf["embedding"].to_numpy())
        mean = mat.astype("float64").mean(axis=0)
        return pd.DataFrame(
            {"label": label, "dim": range(len(mean)), "centroid": np.round(mean, 6)}
        )

    return (
        e.select("label", "embedding")
        .groupBy("label")
        .applyInPandas(centroid, "label int, dim int, centroid double")
    )


# ---------------------------------------------------------------------------
# Lloyd's k-means (IVF coarse-quantizer training)
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 3
DIST_QUANT = 1_000_000  # per-vector sq-distance quantized to micro-units


def ivf_cells_for(n: int) -> int:
    """Coarse-cell count grows ~ sqrt(n) (the FAISS rule of thumb),
    anchored so policy(REGISTERED_CORPUS_N=500) = KMEANS_K = 4:
    K(n) = sqrt(n)/5.5 -> 4 cells at 500 vectors, 26 at 20k. Per-cell
    occupancy then also grows ~ sqrt(n), keeping both the probe fanout
    and the per-cell scan balanced as the corpus scales."""
    import math

    return max(KMEANS_K, round(math.sqrt(n) / 5.5))


def ivf_nprobe_for(k_cells: int) -> int:
    """Probed-cell count holds the anchored COVERAGE fraction (3 of 4
    cells = 75%): on THIS synthetic corpus the embeddings are
    near-random, coarse cells carry little neighbor signal, and probe
    coverage IS the recall ceiling — so the policy keeps it constant.
    On a real clustered corpus nprobe/K decays (log N probes suffice
    because true neighbors concentrate in few cells); the constant-
    fraction rule is the honest worst-case for unstructured data."""
    import math

    return max(2, math.ceil(k_cells * REFINE_NPROBE / KMEANS_K))


def refine_shortlist_for(n: int) -> int:
    """ADC shortlist grows linearly in n (anchored n/10 = 50 at 500
    vectors): a true neighbor's ADC-distance PERCENTILE is scale-free
    (quantization noise doesn't shrink as the corpus grows), so its
    ADC rank grows ~ n and the shortlist must track it to keep the
    exact re-rank's recall. The two-stage economics survive: full
    vectors are fetched for ~10% of the corpus instead of 100%, and
    the ADC pass that produces the shortlist stays 4 lookups + 3 adds
    per candidate."""
    return max(10 * TOP_K, round(n / 10))


def _sqdist_sql(vec: str, cvec: str) -> str:
    """Sequential-fold squared distance (same left-to-right order as the
    Spark zip_with/aggregate below)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({vec}, {cvec}), "
        f"p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))), "
        f"(acc, x) -> acc + x)"
    )


def _kmeans_sql_parts() -> list[str]:
    """The unrolled-Lloyd's CTE chain, shared by the training oracle
    (_kmeans_sql) and the IVF-PQ search oracle (_ivfpq_sql): final
    trained centroids = c{KMEANS_ITERS-1}, final assignment =
    a{KMEANS_ITERS}."""
    parts = [
        f"""c0 AS (
  SELECT vec_id AS k, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < {KMEANS_K}
)"""
    ]
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 1):
        assign = f"a{it}"
        cent = f"c{it}"
        parts.append(f"""{assign} AS (
  SELECT vec_id, embedding, k, d FROM (
    SELECT e.vec_id, e.embedding, c.k,
           {_sqdist_sql('e.embedding', 'c.cvec')} AS d,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sqdist_sql('e.embedding', 'c.cvec')}, c.k
           ) AS rn
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rn = 1
)""")
        if it < KMEANS_ITERS:
            parts.append(f"""{cent} AS (
  SELECT k, list(cv ORDER BY dim) AS cvec FROM (
    SELECT a.k, t.i AS dim, round(avg(CAST(a.embedding[t.i + 1] AS DOUBLE)), 6) AS cv
    FROM {assign} a, unnest(range(len(a.embedding))) AS t(i)
    GROUP BY a.k, t.i
  ) GROUP BY k
)""")
            prev = cent
    return parts


def _kmeans_sql() -> str:
    """Unrolled Lloyd's iterations: init centroids = the first K vectors
    by vec_id; each round assigns every vector to its nearest centroid
    (ties to the lowest k) and recomputes per-dimension means rounded to
    6 dp (the rounding makes the next round's inputs bit-identical
    across engines)."""
    final = f"a{KMEANS_ITERS}"
    return f"""
WITH {', '.join(_kmeans_sql_parts())}
SELECT k AS cluster, count(*) AS n_vecs,
       round(sum(CAST(round(d * {DIST_QUANT}) AS BIGINT)) * 1.0 / {DIST_QUANT}, 6)
         AS inertia
FROM {final} GROUP BY k
"""


def _sqdist_fold(vec: str, cvec: list[float], offset: int = 0) -> F.Column:
    """Sequential squared distance from elements offset, offset+1, ...
    of the array column named `vec` (as doubles) to a literal centroid,
    UNROLLED over the (fixed, known) centroid length instead of the
    zip_with/aggregate fold, which evaluated interpreted per row. The
    left-associated sum ((0.0 + t0) + t1)... over the
    identical per-element doubles ((x_i - c_i)^2) makes distances
    bit-identical to _sqdist_sql; `offset` selects a PQ subvector.
    Emitted as ONE SQL string (like xengine.dot_fixed_sql): built from
    Column objects it cost ~7 py4j calls per term — 15-30 s of driver
    wall per IVF-PQ or k-center plan at any data size."""
    terms = []
    for i, c in enumerate(cvec):
        x = f"CAST(get({vec}, {offset + i}) AS DOUBLE)"
        lit = f"({float(c)!r}D)"
        terms.append(f"({x} - {lit}) * ({x} - {lit})")
    return F.expr(" + ".join(["0.0D", *terms]))


def _kmeans_assign(e: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """One coarse-assignment pass: nearest centroid per vector,
    (vec_id, embedding, k, d) ≡ the oracle's a{it} CTEs. Arrow-
    vectorized with dim-sequential accumulation (see _pq_assign — the
    same bit-identical-fold argument); np.argmin's first-minimum
    tie-break equals the oracle's ORDER BY d, k. Map-side, no
    shuffle."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        list(e.select("vec_id", "embedding").schema.fields)
        + [StructField("k", LongType()), StructField("d", DoubleType())]
    )
    n_cells = len(centroids)
    cmat = np.array([centroids[k] for k in range(n_cells)], dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((len(pdf), n_cells))
            for i in range(DIM):
                diff = V[:, i : i + 1] - cmat[:, i]
                acc += diff * diff
            k = np.argmin(acc, axis=1)
            out = {c: pdf[c] for c in pdf.columns}
            out["k"] = k.astype(np.int64)
            out["d"] = acc[np.arange(len(pdf)), k]
            yield pd.DataFrame(out)

    return e.select("vec_id", "embedding").mapInPandas(fn, out_schema)


def _kmeans_train(
    e: DataFrame, k_cells: int = KMEANS_K
) -> tuple[dict[int, list[float]], DataFrame]:
    """Shared deterministic Lloyd's loop (see kmeans_ivf_train's
    docstring for the determinism + scale contract). Returns the
    centroids AFTER the last update (the trained coarse quantizer, ≡
    the oracle's c{KMEANS_ITERS-1} CTE) and the final assignment frame
    (vec_id, embedding, k, d) (≡ a{KMEANS_ITERS}). `k_cells`
    parameterized for the scale recall harness (see ivf_cells_for);
    the registered queries use the anchored KMEANS_K default."""
    # First k_cells VALID vectors by vec_id, re-keyed 0..K-1 by rank
    # (round-7 pathological-vector sweep: a dropped invalid vector
    # below K left a hole in the centroid dict). On clean fixtures
    # vec_ids are dense from 0, so rank == vec_id and the oracle's
    # vec_id < K init is unchanged.
    init_rows = sorted(
        e.filter(F.col("vec_id") < k_cells)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: int(r["vec_id"]),
    )
    # dedupe by vec_id (duplicate-id sweep: re-ingested rows below K
    # would inflate the codebook past k_cells) and cap at k_cells
    seen: set = set()
    init = []
    for r in init_rows:
        vid = int(r["vec_id"])
        if vid not in seen and len(init) < k_cells:
            seen.add(vid)
            init.append(r)
    centroids = {
        k: [float(x) for x in r["embedding"]] for k, r in enumerate(init)
    }
    if not centroids:
        # explicit contract (round-7 empty-table sweep): training a
        # quantizer on an empty corpus is undefined — fail loudly
        # instead of a cryptic KeyError deep in the assignment pass.
        raise ValueError(
            "k-means training requires a non-empty embeddings corpus"
        )

    assigned = None
    for it in range(1, KMEANS_ITERS + 1):
        assigned = _kmeans_assign(e, centroids)
        if it < KMEANS_ITERS:
            rows = (
                assigned.select("k", F.posexplode("embedding").alias("dim", "x"))
                .groupBy("k", "dim")
                .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("cv"))
                .collect()
            )
            centroids = {k: [0.0] * len(centroids[0]) for k in range(k_cells)}
            for r in rows:
                centroids[int(r["k"])][int(r["dim"])] = float(r["cv"])
    return centroids, assigned


@register("kmeans_ivf_train", oracle=_kmeans_sql(), tags=("similarity",), refuses_empty=True)
def kmeans_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings table — the training step an
    IVF index runs to learn its coarse quantizer (knn_ivf_grid's cells
    are the untrained stand-in). Deterministic end to end: centroids
    initialize to the first K vectors by vec_id, assignment ties break
    to the lowest cluster id, and each round's recomputed centroids are
    rounded to 6 dp so both engines feed bit-identical values into the
    next round; per-vector distances are sequential double folds
    (xengine convention) and the final inertia sums integer-quantized
    distances (exact, order-free).

    Scale shape — the standard distributed Lloyd's: centroids are a
    K x dim frame collected to the driver each round (K·dim doubles —
    the algorithm's unavoidable sync point, same role as the
    connected-components convergence scalar) and re-broadcast as
    literal arrays, so assignment is one narrow map-side pass per
    round (zip_with/aggregate folds inside codegen, no join, no
    shuffle) and the centroid update is one posexplode + (k, dim)
    hash-aggregate of K·dim output rows. Iterations: fixed
    KMEANS_ITERS (production would add a movement-epsilon stop)."""
    e = load_vectors(spark, sf_dir)
    _, assigned = _kmeans_train(e)
    return assigned.groupBy(F.col("k").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.round(F.col("d") * DIST_QUANT).cast("bigint")) / DIST_QUANT, 6
        ).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# product-quantization codebook training (PQ — the fine quantizer)
# ---------------------------------------------------------------------------

PQ_M = 4                  # subspaces (64 dims -> 4 x 16)
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16                 # codewords per subspace
PQ_ITERS = 2


def _pq_sql_parts() -> list[str]:
    """The per-subspace unrolled-Lloyd's CTE chains, shared by the
    training oracle (_pq_sql) and the IVF-PQ search oracle: trained
    codebook for subspace m = c{m}_{PQ_ITERS-1}, final encoding =
    a{m}_{PQ_ITERS}; s{m} holds every vector's m-th subvector."""
    parts = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        sub = f"list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE))"
        parts.append(
            f"""s{m} AS (SELECT vec_id, {sub} AS sv FROM embeddings)"""
        )
        parts.append(
            f"""c{m}_0 AS (SELECT vec_id AS k, sv AS cvec FROM s{m} WHERE vec_id < {PQ_K})"""
        )
        prev = f"c{m}_0"
        for it in range(1, PQ_ITERS + 1):
            assign = f"a{m}_{it}"
            parts.append(f"""{assign} AS (
  SELECT vec_id, sv, k, d FROM (
    SELECT e.vec_id, e.sv, c.k,
           {_sqdist_sql('e.sv', 'c.cvec')} AS d,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {_sqdist_sql('e.sv', 'c.cvec')}, c.k
           ) AS rn
    FROM s{m} e CROSS JOIN {prev} c
  ) WHERE rn = 1
)""")
            if it < PQ_ITERS:
                cent = f"c{m}_{it}"
                parts.append(f"""{cent} AS (
  SELECT k, list(cv ORDER BY dim) AS cvec FROM (
    SELECT a.k, t.i AS dim, round(avg(a.sv[t.i + 1]), 6) AS cv
    FROM a{m}_{it} a, unnest(range({PQ_SUBDIM})) AS t(i)
    GROUP BY a.k, t.i
  ) GROUP BY k
)""")
                prev = cent
    return parts


def _pq_sql() -> str:
    """Unrolled Lloyd's per subspace (same determinism contract as
    _kmeans_sql: fixed init, ties to lowest codeword, 6-dp centroid
    rounding between rounds, integer-quantized inertia)."""
    finals = [
        f"""SELECT {m} AS subspace, k AS codeword, count(*) AS n_vecs,
       round(sum(CAST(round(d * {DIST_QUANT}) AS BIGINT)) * 1.0 / {DIST_QUANT}, 6)
         AS inertia
FROM a{m}_{PQ_ITERS} GROUP BY k"""
        for m in range(PQ_M)
    ]
    return "WITH " + ",\n".join(_pq_sql_parts()) + "\n" + "\nUNION ALL\n".join(finals)


def _pq_assign(e: DataFrame, cents: dict[int, dict[int, list[float]]]) -> DataFrame:
    """One full PQ encoding pass: every vector's per-subspace nearest
    codeword, long-form (vec_id, m, k, d, sv) ≡ the oracle's
    a{m}_{it} CTEs.

    Arrow-vectorized for the same reason as _mt_signatures: the
    expression form needs PQ_M·PQ_K (= 64 at K=16) interpreted
    `aggregate(zip_with(...))` folds per vector per round — measured
    18 s at sf0.1 after the K=4→16 recall lift. The numpy inner loop
    accumulates dim-SEQUENTIALLY per (subspace, codeword)
    (`acc += (V[:, lo+i] - c[i])^2`), so each squared distance is the
    exact left-to-right fold the oracle's list_reduce computes, and
    np.argmin's first-minimum tie-break equals the oracle's
    `ORDER BY d, k` on bit-identical doubles. Map-side, no shuffle."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("m", IntegerType()),
            StructField("k", LongType()),
            StructField("d", DoubleType()),
            StructField("sv", ArrayType(DoubleType())),
        ]
    )
    cmat = {
        m: np.array([cents[m][k] for k in sorted(cents[m])], dtype=np.float64)
        for m in range(PQ_M)
    }

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            frames = []
            for m in range(PQ_M):
                lo = m * PQ_SUBDIM
                S = V[:, lo : lo + PQ_SUBDIM]
                acc = np.zeros((len(pdf), cmat[m].shape[0]))
                for i in range(PQ_SUBDIM):
                    diff = S[:, i : i + 1] - cmat[m][:, i]
                    acc += diff * diff
                k = np.argmin(acc, axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "m": np.full(len(pdf), m, dtype=np.int32),
                            "k": k.astype(np.int64),
                            "d": acc[np.arange(len(pdf)), k],
                            "sv": list(S),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return e.select("vec_id", "embedding").mapInPandas(fn, out_schema)


def _pq_train(
    e: DataFrame,
) -> tuple[dict[int, dict[int, list[float]]], DataFrame]:
    """Shared per-subspace Lloyd's loop (see pq_codebook_train's
    docstring). Returns the codebooks AFTER the last update (≡ the
    oracle's c{m}_{PQ_ITERS-1} CTEs) and the final encoding frame
    (vec_id, m, k, d, sv) (≡ the a{m}_{PQ_ITERS} CTEs)."""
    init_rows = sorted(
        e.filter(F.col("vec_id") < PQ_K).select("vec_id", "embedding").collect(),
        key=lambda r: int(r["vec_id"]),
    )
    seen: set = set()
    init = []
    for r in init_rows:  # dedupe + cap — see the _kmeans_train init note
        vid = int(r["vec_id"])
        if vid not in seen and len(init) < PQ_K:
            seen.add(vid)
            init.append(r)
    if not init:
        raise ValueError(
            "PQ codebook training requires a non-empty embeddings corpus"
        )
    # re-keyed 0..K-1 by vec_id rank — see the _kmeans_train init note
    cents = {
        m: {
            k: [
                float(x) for x in r["embedding"][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            ]
            for k, r in enumerate(init)
        }
        for m in range(PQ_M)
    }

    assigned = None
    for it in range(1, PQ_ITERS + 1):
        assigned = _pq_assign(e, cents)
        if it < PQ_ITERS:
            rows = (
                assigned.select("m", "k", F.posexplode("sv").alias("dim", "x"))
                .groupBy("m", "k", "dim")
                .agg(F.round(F.avg("x"), 6).alias("cv"))
                .collect()
            )
            # codebook size = #valid init vectors (<= PQ_K; short only
            # on pathological corpora — see _kmeans_train init note)
            n_codes = len(cents[0])
            cents = {m: {k: [0.0] * PQ_SUBDIM for k in range(n_codes)} for m in range(PQ_M)}
            for r in rows:
                cents[int(r["m"])][int(r["k"])][int(r["dim"])] = float(r["cv"])
    return cents, assigned


@register("pq_codebook_train", oracle=_pq_sql(), tags=("similarity",), refuses_empty=True)
def pq_codebook_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training — the fine quantizer an
    IVF-PQ index pairs with the coarse cells (kmeans_ivf_train): the
    64-dim embedding splits into PQ_M contiguous 16-dim subspaces, each
    trained with its own deterministic Lloyd's loop, so a vector
    compresses to PQ_M codeword ids (here 4 x 4 bits — PQ_K raised
    4 -> 16 in round 4, which lifted IVF-PQ recall@5 0.10 -> 0.28 at
    the cost of a 4x larger codebook sync). Output: per
    (subspace, codeword) population and quantization inertia — the
    codebook quality report.

    Scale shape: ALL subspaces train in one pass per round — the
    assignment select computes every subspace's argmin off broadcast
    literal centroids map-side (no join), and the centroid update is a
    single two-level explode (subspace struct → sub-dimension) into one
    (m, k, dim) hash-aggregate whose output is PQ_M·K·SUBDIM rows
    collected to the driver (the Lloyd's sync point, same as
    kmeans_ivf_train). Same cross-engine determinism contract: 6-dp
    centroid rounding between rounds, sequential-fold distances,
    integer-quantized inertia."""
    e = load_vectors(spark, sf_dir)
    _, assigned = _pq_train(e)
    return assigned.groupBy(
        F.col("m").alias("subspace"), F.col("k").alias("codeword")
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.round(F.col("d") * DIST_QUANT).cast("bigint")) / DIST_QUANT, 6
        ).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# asymmetric-distance search over int8 scalar-quantized codes (SQ8 ADC)
# ---------------------------------------------------------------------------

SQ_LEVELS = 255


def _rec_sql() -> str:
    """DuckDB: dequantized corpus vector from per-dim (min, scale)."""
    return (
        "list_transform(list_zip(e.embedding, s.mn_arr, s.sc_arr), "
        "p -> CASE WHEN p[3] = 0 THEN CAST(p[2] AS DOUBLE) "
        "ELSE p[2] + round((CAST(p[1] AS DOUBLE) - p[2]) / p[3]) * p[3] END)"
    )


_ADC_SQL = f"""
WITH elems AS (
  SELECT i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS x
  FROM embeddings, unnest(range(len(embedding))) AS t(i)
  WHERE vec_id >= {N_QUERIES}
),
dimstats AS (
  SELECT dim, min(x) AS mn, (max(x) - min(x)) / {SQ_LEVELS}.0 AS scale
  FROM elems GROUP BY dim
),
stats AS (
  SELECT array_agg(mn ORDER BY dim) AS mn_arr,
         array_agg(scale ORDER BY dim) AS sc_arr
  FROM dimstats
),
rec AS (
  SELECT e.vec_id, {_rec_sql()} AS r
  FROM embeddings e, stats s
  WHERE e.vec_id >= {N_QUERIES}
)
SELECT query_id, vec_id, adc_sim, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round({X.cosine_sql('q.embedding', 'c.r')}, 6) AS adc_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {X.cosine_sql('q.embedding', 'c.r')} DESC, c.vec_id
         ) AS rnk
  FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
  CROSS JOIN rec c
) WHERE rnk <= {TOP_K}
"""


@register("knn_sq8_adc", oracle=_ADC_SQL, tags=("similarity",))
def knn_sq8_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance search over int8 scalar-quantized codes
    (FAISS SQ8-style): per-dimension (min, scale) trained on the corpus
    (one posexplode + 64-group aggregate, broadcast back as two literal
    arrays), corpus vectors dequantized on the fly, full-precision
    queries scored against the dequantized codes — the asymmetric side
    of the embedding_quantize_int8 pair (that query measures
    reconstruction error; this one measures what search over the codes
    actually returns). At 100 TB the codes are what a real index
    stores (4x memory cut at 64 dims float32→int8); scoring stays a
    linear scan like knn_brute_cosine — the LSH/IVF variants remain the
    sub-quadratic path, and SQ8 composes with them (quantize within
    cells). Dequantization and the cosine are sequential double folds,
    bit-identical to the oracle (functions.xengine)."""
    e = load_vectors(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") >= N_QUERIES)
    elems = corpus.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select("dim", F.col("xf").cast("double").alias("x"))
    dimstats = elems.groupBy("dim").agg(
        F.min("x").alias("mn"),
        ((F.max("x") - F.min("x")) / F.lit(float(SQ_LEVELS))).alias("scale"),
    )
    stats = dimstats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("mn_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "scale"))),
            lambda s: s["scale"],
        ).alias("sc_arr"),
    )

    def dequant(x: F.Column, i: F.Column) -> F.Column:
        mn = F.element_at("mn_arr", i + 1)
        sc = F.element_at("sc_arr", i + 1)
        return F.when(sc == 0, mn).otherwise(
            mn + F.round((x.cast("double") - mn) / sc, 0) * sc
        )

    rec = corpus.join(F.broadcast(stats)).select(
        "vec_id", F.transform("embedding", dequant).alias("r")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    adc = X.cosine_fixed("q_emb", "r", DIM)
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_raw"), F.asc("vec_id"))
    return (
        rec.crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", adc.alias("adc_raw"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "vec_id", F.round(F.col("adc_raw"), 6).alias("adc_sim"), "rnk"
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ ADC search: trained coarse cells + PQ codes + distance tables
# ---------------------------------------------------------------------------

NPROBE = 2


def _ivfpq_scored_parts(nprobe: int) -> list[str]:
    """CTE chain through `scored` (query_id, vec_id, adc): the two
    trainers' chains verbatim (so the trained structures are the
    hash-verified ones), then each query probes its `nprobe` nearest
    coarse cells and the probed cells' vectors are scored by ADC —
    per-subspace (query, codeword) distance tables summed in fixed
    subspace order. Shared by the plain ADC search (NPROBE) and the
    refine variant (REFINE_NPROBE)."""
    kc = f"c{KMEANS_ITERS - 1}"           # trained coarse centroids
    ka = f"a{KMEANS_ITERS}"               # final coarse assignment
    parts = _kmeans_sql_parts() + _pq_sql_parts()
    parts.append(f"""qv AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id < {N_QUERIES}
)""")
    parts.append(f"""probe AS (
  SELECT query_id, k AS cell FROM (
    SELECT q.query_id, c.k,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sqdist_sql('q.qe', 'c.cvec')}, c.k
           ) AS rn
    FROM qv q CROSS JOIN {kc} c
  ) WHERE rn <= {nprobe}
)""")
    parts.append(
        f"cells AS (SELECT vec_id, k AS cell FROM {ka} WHERE vec_id >= {N_QUERIES})"
    )
    for m in range(PQ_M):
        cb = f"c{m}_{PQ_ITERS - 1}"
        parts.append(f"""qd{m} AS (
  SELECT s.vec_id AS query_id, c.k, {_sqdist_sql('s.sv', 'c.cvec')} AS d
  FROM s{m} s CROSS JOIN {cb} c WHERE s.vec_id < {N_QUERIES}
)""")
        parts.append(
            f"code{m} AS (SELECT vec_id, k FROM a{m}_{PQ_ITERS} "
            f"WHERE vec_id >= {N_QUERIES})"
        )
    code_joins = "\n".join(
        f"  JOIN code{m} ON code{m}.vec_id = cand.vec_id\n"
        f"  JOIN qd{m} ON qd{m}.query_id = cand.query_id AND qd{m}.k = code{m}.k"
        for m in range(PQ_M)
    )
    adc = " + ".join(f"qd{m}.d" for m in range(PQ_M))
    parts.append(f"""cand AS (
  SELECT p.query_id, ce.vec_id FROM probe p JOIN cells ce ON ce.cell = p.cell
)""")
    parts.append(f"""scored AS (
  SELECT cand.query_id, cand.vec_id, {adc} AS adc
  FROM cand
{code_joins}
)""")
    return parts


def _ivfpq_sql() -> str:
    """Full IVF-PQ ADC search: scored candidates ranked by ADC."""
    parts = _ivfpq_scored_parts(NPROBE)
    return f"""
WITH {', '.join(parts)}
SELECT query_id, vec_id, round(adc, 6) AS adc_dist, rnk FROM (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""


REFINE_NPROBE = 3   # refine probes more cells (ADC makes probing cheap)
REFINE_N = 50       # ADC shortlist per query (10x k) before exact re-rank
# Measured recall@5 at sf0.01 vs shortlist size (PLANS.md round-4c):
# 25 -> 0.64, 50 -> 0.78, 100 -> 0.88, 200 -> 0.94; the candidate
# ceiling at REFINE_NPROBE=3 is 0.96, so the shortlist is the knob.
# 50 = the classic 10x-k refine factor; ~10% of this toy corpus vs the
# OR-amplified LSH's 28% candidate fraction.


def _ivfpq_refine_sql() -> str:
    """IVF-PQ search with exact re-rank: ADC shortlists REFINE_N
    candidates per query, then the shortlist alone is re-scored with
    full-precision cosine and the final top-k ranked on that."""
    parts = _ivfpq_scored_parts(REFINE_NPROBE)
    parts.append(f"""shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS srn
    FROM scored
  ) WHERE srn <= {REFINE_N}
)""")
    return f"""
WITH {', '.join(parts)}
SELECT query_id, vec_id, cos_sim, rnk FROM (
  SELECT s.query_id, s.vec_id,
         round({X.cosine_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY {X.cosine_sql('q.embedding', 'c.embedding')} DESC, s.vec_id
         ) AS rnk
  FROM shortlist s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.vec_id
) WHERE rnk <= {TOP_K}
"""


def _ivfpq_scored(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF-PQ candidate scoring (≡ the oracle's `scored` CTE):
    trains both quantizers, builds the (cell, codes) index in one
    map-side pass, probes each query's `nprobe` nearest coarse cells,
    and ADC-scores the probed cells' vectors. Returns the embeddings
    frame and the scored frame (query_id, vec_id, adc)."""
    e = load_vectors(spark, sf_dir)
    return e, _ivfpq_scored_frames(e, nprobe)


def _ivfpq_scored_frames(
    e: DataFrame, nprobe: int, k_cells: int = KMEANS_K
) -> DataFrame:
    """Frame-based IVF-PQ scoring, `k_cells`-parameterized for the
    scale recall harness (ivf_cells_for); registered queries use the
    anchored default."""
    coarse_cents, coarse_assigned = _kmeans_train(e, k_cells)
    pq_cents, pq_assigned = _pq_train(e)

    cells = coarse_assigned.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", F.col("k").alias("cell")
    )
    codes = (
        pq_assigned.filter(F.col("vec_id") >= N_QUERIES)
        .groupBy("vec_id")
        .agg(
            *[
                F.max(F.when(F.col("m") == m, F.col("k"))).alias(f"k{m}")
                for m in range(PQ_M)
            ]
        )
    )
    index = cells.join(codes, "vec_id")

    q = e.filter(F.col("vec_id") < N_QUERIES)
    probe_structs = F.array(
        *[
            F.struct(
                _sqdist_fold("embedding", coarse_cents[k]).alias("d"),
                F.lit(k).alias("cell"),
            )
            for k in sorted(coarse_cents)
        ]
    )
    qd_arrays = [
        F.array(
            *[
                _sqdist_fold("embedding", pq_cents[m][k], m * PQ_SUBDIM)
                for k in sorted(pq_cents[m])
            ]
        ).alias(f"qd{m}")
        for m in range(PQ_M)
    ]
    probes = q.select(
        F.col("vec_id").alias("query_id"),
        *qd_arrays,
        F.explode(F.slice(F.array_sort(probe_structs), 1, nprobe)).alias("p"),
    ).select("query_id", *[f"qd{m}" for m in range(PQ_M)], F.col("p.cell").alias("qcell"))

    adc = sum(
        F.element_at(F.col(f"qd{m}"), F.col(f"k{m}").cast("int") + 1)
        for m in range(PQ_M)
    )
    scored = index.join(F.broadcast(probes), F.col("cell") == F.col("qcell")).select(
        "query_id", "vec_id", adc.alias("adc")
    )
    return scored


@register("knn_ivfpq_adc", oracle=_ivfpq_sql(), tags=("similarity",), refuses_empty=True)
def knn_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN architecture end to end, oracle-verified: an
    IVF-PQ index built from the two trained quantizers (kmeans_ivf_train
    coarse cells + pq_codebook_train codebooks, shared training code so
    the structures are exactly the hash-verified ones) searched with
    asymmetric distance computation — each query precomputes a PQ_K-
    entry distance table per subspace (the classic ADC lookup), probes
    its NPROBE nearest coarse cells, and ranks only those cells'
    vectors by summed table lookups.

    Scale shape — exactly how FAISS-style IVF-PQ distributes: training
    syncs K·dim doubles per round (the Lloyd's sync point); the index
    (cell id + PQ_M codeword bytes per vector) is built in one
    map-side pass off broadcast literal centroids; at search time the
    tiny query frame — carrying its precomputed distance tables as
    literal-built array columns — is BROADCAST into the corpus, which
    stays partition-parallel, is pruned to the probed cells before any
    scoring, and never materializes full-precision distances (4 array
    lookups + 3 adds per candidate). Distance tables and the fixed
    subspace-order sum are sequential double folds — bit-identical to
    the oracle. Recall vs the exact scan is bounded in
    tests/test_approx.py."""
    _, scored = _ivfpq_scored(spark, sf_dir, NPROBE)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "vec_id", F.round(F.col("adc"), 6).alias("adc_dist"), "rnk"
        )
    )


@register("knn_ivfpq_refine", oracle=_ivfpq_refine_sql(), tags=("similarity",), refuses_empty=True)
def knn_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with an exact-re-rank refine stage — the standard
    production two-stage search (FAISS IndexRefineFlat shape): ADC
    shortlists REFINE_N candidates per query from REFINE_NPROBE probed
    cells (probing more cells than the plain ADC search is nearly free
    — candidates cost 4 table lookups each), then ONLY the shortlist is
    re-scored with full-precision cosine and the final top-k ranked on
    that. Refinement removes every ADC quantization-ordering error
    inside the shortlist, so recall is limited only by the coarse-cell
    ceiling (the NPROBE/K knob, which scales as log N in production).

    Scale shape: the shortlist is k-bounded (REFINE_N·|queries| rows —
    broadcastable by construction), so the full-vector fetch is a
    broadcast semi-join INTO the partition-parallel corpus: the corpus
    is touched once to read full vectors for shortlisted ids only —
    exactly the \"refine reads full vectors from storage\" step of a
    two-stage ANN deployment. Exact cosine is the same sequential
    double fold as knn_brute_cosine. Recall tracked in ann_recall_eval;
    floor pinned in tests/test_approx.py."""
    e = load_vectors(spark, sf_dir)
    return _refine_search(e)


def _refine_search(
    e: DataFrame,
    nprobe: int = REFINE_NPROBE,
    shortlist_n: int = REFINE_N,
    k_cells: int = KMEANS_K,
) -> DataFrame:
    """The two-stage ADC-shortlist + exact-re-rank search body,
    parameterized on (nprobe, shortlist_n, k_cells) so the scale
    recall harness can run it with policy-grown constants
    (ivf_cells_for / ivf_nprobe_for / refine_shortlist_for); the
    registered query's defaults keep the oracle-verified shape."""
    scored = _ivfpq_scored_frames(e, nprobe, k_cells)
    ws = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    shortlist = (
        scored.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist_n)
        .select("query_id", "vec_id")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select("vec_id", "embedding")
    cos = X.cosine_fixed("q_emb", "embedding", DIM)
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        c.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cos.alias("cos_raw"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim"), "rnk"
        )
    )


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------

HN_LO = 0.10   # hard-negative band: similar enough to be informative...
HN_HI = 0.30   # ...but below the near-dup/positive threshold
HN_K = 5

_HN_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding,
         {_cell_sql('embedding', 0)} AS c0, {_cell_sql('embedding', 1)} AS c1
  FROM embeddings WHERE vec_id >= {N_QUERIES}
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb,
         {_cell_sql('embedding', 0)} + dx.v AS c0, {_cell_sql('embedding', 1)} + dy.v AS c1
  FROM embeddings,
       (SELECT unnest([-1, 0, 1]) AS v) dx,
       (SELECT unnest([-1, 0, 1]) AS v) dy
  WHERE vec_id < {N_QUERIES}
)
SELECT query_id, vec_id, cos_sim, rnk FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cos_raw DESC, vec_id
         ) AS rnk
  FROM (
    SELECT q.query_id, c.vec_id,
           {X.cosine_sql('q.q_emb', 'c.embedding')} AS cos_raw,
           round({X.cosine_sql('q.q_emb', 'c.embedding')}, 6) AS cos_sim
    FROM q JOIN corpus c ON q.c0 = c.c0 AND q.c1 = c.c1
  ) WHERE cos_raw >= {HN_LO} AND cos_raw < {HN_HI}
) WHERE rnk <= {HN_K}
"""


@register("knn_hard_negatives", oracle=_HN_SQL, tags=("similarity", "llmprep"))
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data-prep step
    (embedding/retrieval model training wants, per anchor, negatives
    that are NEAR misses, not random draws): for each anchor vector,
    the top-HN_K corpus vectors whose cosine falls in [HN_LO, HN_HI) —
    similar enough to be informative, strictly below the
    near-dup/positive threshold (HN_HI == dedup's
    COSINE_DUP_THRESHOLD, so the mined set and the dup set partition
    the neighborhood).

    Scale shape: candidates come from the SAME deterministic IVF grid
    probe join as knn_ivf_grid (keyed equi-join on cell ids — never
    brute), and the similarity BAND filter prunes candidates BEFORE
    the per-anchor window, so the ranked set is a fraction of the
    probed set (mining is cheaper than top-k search: most probed
    candidates fall outside the band and never reach the shuffle).
    WindowGroupLimit caps per-anchor state at HN_K. The oracle
    replicates probe cells, band, and ranking exactly — the lossy
    probe set is part of the contract (the knn_ivfpq_adc discipline),
    with the exactness of the band boundaries guaranteed by the
    sequential-fold cosine both engines share (xengine convention)."""
    e = load_vectors(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id",
        "embedding",
        _cell_spark("embedding", 0).alias("c0"),
        _cell_spark("embedding", 1).alias("c1"),
    )
    probes = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _cell_spark("embedding", 0).alias("q0"),
            _cell_spark("embedding", 1).alias("q1"),
            probes.alias("p"),
        )
        .select(
            "query_id",
            "q_emb",
            (F.col("q0") + F.col("p.dx")).alias("c0"),
            (F.col("q1") + F.col("p.dy")).alias("c1"),
        )
    )
    cos = X.cosine_fixed("q_emb", "embedding", DIM)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        corpus.join(F.broadcast(q), ["c0", "c1"])
        .select("query_id", "vec_id", cos.alias("cos_raw"))
        .filter((F.col("cos_raw") >= HN_LO) & (F.col("cos_raw") < HN_HI))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HN_K)
        .select(
            "query_id", "vec_id", F.round(F.col("cos_raw"), 6).alias("cos_sim"), "rnk"
        )
    )


# ---------------------------------------------------------------------------
# greedy k-center coreset selection (Gonzalez 1985 farthest-point
# traversal; Sener & Savarese, ICLR 2018 for the data-selection use)
# ---------------------------------------------------------------------------

KC_K = 8  # coreset size: seed + 7 farthest-point picks; the row after
#           the last pick is the coverage WITNESS (see docstring)


def _kc_sql() -> str:
    """Unrolled farthest-point rounds: seed = lowest vec_id; each round
    materializes the quantized running min-distance to the chosen set
    (least-chain of per-center integer micro-distances — associative,
    so it equals the Spark side's one least() over all centers) and
    picks the argmax (ties to the lowest vec_id). MATERIALIZED on every
    per-round CTE — the d{r} chain references d{r-1} twice (the select
    and the next round), and DuckDB re-derives inlined CTE references
    exponentially otherwise (the tokenizer-replay lesson)."""
    q = DIST_QUANT
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings"
        " WHERE embedding IS NOT NULL AND len(embedding) > 0)",
        "s0 AS MATERIALIZED (SELECT vec_id, embedding FROM e"
        " ORDER BY vec_id LIMIT 1)",
        "d0 AS MATERIALIZED (SELECT e.vec_id, e.embedding, CAST(round("
        + _sqdist_sql("e.embedding", "(SELECT embedding FROM s0)")
        + f" * {q}) AS BIGINT) AS dq FROM e)",
    ]
    for r in range(1, KC_K + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT vec_id, embedding, dq"
            f" FROM d{r - 1} ORDER BY dq DESC, vec_id LIMIT 1)"
        )
        if r < KC_K:
            parts.append(
                f"d{r} AS MATERIALIZED (SELECT d.vec_id, d.embedding,"
                " least(d.dq, CAST(round("
                + _sqdist_sql("d.embedding", f"(SELECT embedding FROM s{r})")
                + f" * {q}) AS BIGINT)) AS dq FROM d{r - 1} d)"
            )
    selects = [
        "SELECT CAST(0 AS BIGINT) AS sel_round,"
        " (SELECT vec_id FROM s0) AS vec_id,"
        " CAST(0 AS BIGINT) AS radius_q"
    ] + [
        f"SELECT CAST({r} AS BIGINT), vec_id, dq FROM s{r}"
        for r in range(1, KC_K + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "select_kcenter_coreset",
    oracle=_kc_sql(),
    tags=("similarity", "sampling", "llmprep"),
    refuses_empty=True,
)
def select_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over the
    embeddings table — Gonzalez's 2-approximation of the k-center
    objective (Theoretical CS 1985), applied to training-data
    curation as in Sener & Savarese (ICLR 2018): pick the subset
    whose coverage radius (max distance from any point to its nearest
    selected point) is minimal, i.e. the DIVERSITY-maximizing sample —
    the complement of the density-seeking samplers already in the
    suite (DSIR picks target-like points, temperature sampling
    flattens sources; k-center guarantees no region of embedding
    space is left unrepresented). One row per round: the seed (lowest
    vec_id), each farthest-point pick with its selection distance
    radius_q (= the coverage radius of the set chosen BEFORE it), and
    a final coverage WITNESS row (sel_round = KC_K): the farthest
    remaining point from the full coreset — its radius_q IS the
    k-center objective value, and Gonzalez's invariant radius_q(r)
    non-increasing in r is pinned by test.

    Determinism: per-center squared distances are the suite's
    sequential-fold doubles (_sqdist_fold == _sqdist_sql bit-for-bit),
    quantized to integer micro-units BEFORE the running min (least
    over centers — associative on ints, so Spark's one least() over
    all chosen centers equals the oracle's per-round least-chain);
    argmax ties break on vec_id; every output column is BIGINT.

    Scale shape: the kmeans_ivf_train discipline — each round is a
    join-free map-side pass (centers ride as literal arrays in
    codegen'd folds) + ONE TakeOrderedAndProject argmax whose driver
    sync is a single row; the embeddings scan is spill-checkpointed
    once and re-read per round, never shuffled. Work is
    O(K^2 * n * dim) codegen flops with K bounded (coreset sizes are
    config constants, not data-driven). PLAN-SIZE BOUND (round-10
    verdict watch item): the final round's expression embeds exactly
    KC_K x dim literal doubles (8 x 8 = 64 here) — the same hazard
    class as the plan-embedded WordPiece vocabulary de-literalized in
    round 9. At production K x dim (say 1e3 x 1e3 = 1e6 literals) the
    codegen'd fold bloats the plan; the lever is the WordPiece
    precedent: broadcast the centers as a (center_id, embedding)
    frame, crossJoin(broadcast(centers)) + groupBy(vec_id).min(dq) —
    one extra |n| x K map-side expansion, no shuffle of the vector
    side, identical integer-min semantics (least over ints ==
    min-aggregate over ints, both associative). Kept literal HERE
    because at bounded K the fold stays inside whole-stage codegen
    (the broadcast variant pays an Arrow/codegen boundary per round)
    and the oracle replays the identical least-chain. At 1e9+ vectors
    with large K you'd ALSO swap exact argmax rounds for the
    over-sampled MapReduce variant (Gonzalez-MR / k-center clustering
    in MapReduce, Ene et al. KDD 2011) — sample-and-prune keeps
    rounds logarithmic; here the exact traversal keeps the oracle
    bit-exact.

    Reference basis: public k-center literature only (no reference-
    repo analogue — the log ETL has no vector ops)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
        .select("vec_id", "embedding")
        .transform(spill_checkpoint)
    )
    seed_rows = e.orderBy(F.asc("vec_id")).limit(1).collect()
    if not seed_rows:
        raise ValueError(
            "k-center selection requires a non-empty embeddings corpus"
        )
    seed = seed_rows[0]
    centers = [[float(x) for x in seed["embedding"]]]
    out = [(0, int(seed["vec_id"]), 0)]
    for r in range(1, KC_K + 1):
        dq = F.least(
            *[
                F.round(_sqdist_fold("embedding", c) * DIST_QUANT)
                .cast("bigint")
                for c in centers
            ]
        ) if len(centers) > 1 else F.round(
            _sqdist_fold("embedding", centers[0]) * DIST_QUANT
        ).cast("bigint")
        top = (
            e.select("vec_id", "embedding", dq.alias("dq"))
            .orderBy(F.desc("dq"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        out.append((r, int(top["vec_id"]), int(top["dq"])))
        if r < KC_K:
            centers.append([float(x) for x in top["embedding"]])
    return spark.createDataFrame(
        out, "sel_round: bigint, vec_id: bigint, radius_q: bigint"
    )
