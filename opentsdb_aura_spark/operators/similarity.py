"""Similarity search over embedding columns (array<float>).

LLM-pipeline extension (no counterpart in the reference's surface).
Four ANN families sit behind public front ends: exact cosine
(``brute_force_topk``; dot products are JVM-side ``zip_with`` +
``aggregate`` folds), random-hyperplane LSH, IVF (spherical k-means
lists, in memory or as an index at rest) and PQ / OPQ / IVF-PQ codes
scored by ADC lookup tables.  Below the front ends each piece is
written once: one driver sample (``_sample_vectors``) and coarse
trainer (``_spherical_kmeans``); one nearest-list assignment
(``_nearest``) and one probe (``_prober``); one PQ encoder
(``_pq_encode``); one IVF-PQ trainer (``_ivfpq_codebooks``) and coded
frame (``_ivfpq_coded``); one ADC search core (``_adc_search``) for PQ
and IVF-PQ, so in-memory IVF-PQ is the at-rest search over codes that
are never written; one IVF scorer (``_ivf_scored_topk``); one top-k
tail (``_topk_tail``); one writer and one reader per index table.

At cluster scale, the query side is broadcast when it is a distinct
small DataFrame (queries ≪ corpus) so the corpus scan stays
shuffle-free and embarrassingly parallel; self-search (queries is
corpus) never broadcasts — the bucketed paths fall back to a plain
shuffle equi-join.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — must be module-level so pandas_udf can resolve postponed type hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from opentsdb_aura_spark.sources.maintenance import new_rows


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; a zero-norm vector (failed encode / padding
    row) scores 0.0 against everything instead of aborting the job
    with ANSI DIVIDE_BY_ZERO (CASE WHEN guards the division)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(_dot(a, b) / denom)


def _topk_tail(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The one exact top-k tail: per query, the ``k`` best ``score``
    rows, ties broken by the lower neighbor_id.  Self-match filters
    stay with the callers."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", score)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self-matches excluded).  Returns (query_id, neighbor_id,
    cos_sim).  The queries side is broadcast — corpus never shuffles.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_tail(scored, "cos_sim", k)


def _hyperplane(dim: int, plane_idx: int, table: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a simple
    LCG (no numpy at plan-build time keeps the plan serializable)."""
    out = []
    state = (plane_idx * 2654435761 + table * 40503 + 12345) & 0xFFFFFFFF
    for _ in range(dim):
        state = (1103515245 * state + 12345) & 0x7FFFFFFF
        out.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
    return out


def _lsh_buckets(
    df: DataFrame, prefix: str, *, dim: int, n_planes: int, n_tables: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec) → one row per LSH table with the vector's sign-pattern
    bucket: (<prefix>_id, <prefix>_v, table, bucket)."""
    v = F.col(vec_col)
    buckets = []
    for t in range(n_tables):
        # n_planes=0 is the degenerate 0-bit sign pattern: every vector
        # lands in bucket 0, the bucket join becomes exhaustive, and
        # lsh_topk's output equals brute_force_topk exactly — the
        # oracle-able twin the catalog registers as ann_lsh_exact_topk.
        bits = F.lit(0).cast("long") if n_planes == 0 else None
        for p in range(n_planes):
            dot = _dot(v, F.lit([float(x) for x in _hyperplane(dim, p, t)]))
            term = F.shiftleft(F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")), p)
            bits = term if bits is None else bits + term
        buckets.append(F.struct(F.lit(t).alias("table"), bits.alias("bucket")))
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"), F.col(vec_col).alias(f"{prefix}_v"), F.explode(F.array(*buckets)).alias("b")
    ).select(f"{prefix}_id", f"{prefix}_v", F.col("b.table").alias("table"), F.col("b.bucket").alias("bucket"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Each table hashes a vector to an n_planes-bit sign pattern; a
    query only scores corpus vectors sharing a bucket in ≥1 table.
    Returns (query_id, neighbor_id, cos_sim) — a subset of the exact
    result with high recall for near neighbors.  Self-search
    (``queries is corpus``) never broadcasts: the bucket equi-join
    shuffles on (table, bucket) and Spark's size estimate decides.
    """
    cb = _lsh_buckets(corpus, "n", dim=dim, n_planes=n_planes, n_tables=n_tables, id_col=id_col, vec_col=vec_col)
    qb = _lsh_buckets(queries, "q", dim=dim, n_planes=n_planes, n_tables=n_tables, id_col=id_col, vec_col=vec_col)
    if queries is not corpus:
        qb = F.broadcast(qb)
    cand = (
        cb.join(qb, ["table", "bucket"])
        .where(F.col("q_id") != F.col("n_id"))
        .select(F.col("q_id").alias("query_id"), F.col("n_id").alias("neighbor_id"), "q_v", "n_v")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_tail(cand.withColumn("cos_sim", cosine(F.col("q_v"), F.col("n_v"))), "cos_sim", k)


# ------------------------------------------------------------ numpy kernels


def _stack(vs: pd.Series):
    """One Arrow batch of array cells as a float64 (rows × d) matrix."""
    import numpy as np

    return np.stack(vs.apply(lambda a: np.asarray(a, dtype=np.float64)))


def _nearest(x, cent):
    """Nearest-centroid (max inner product) list id per row of ``x`` —
    one definition, so build-time and serve-time assignment agree."""
    import numpy as np

    return np.argmax(x @ cent.T, axis=1)


def _prober(cent_rows, nprobe: int):
    """The one IVF probe: ``probe(x)`` gives each row's ``nprobe``
    closest lists (stable order: ties keep the lower list id).  Past
    the list count it clamps to a full probe; ``nprobe < 1`` raises
    here, at plan time — the slice would probe nothing or drop lists."""
    import numpy as np

    if int(nprobe) < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    c = np.asarray(cent_rows, dtype=np.float64)
    n = min(int(nprobe), len(c))

    def probe(x):
        return np.argsort(-(x @ c.T), axis=1, kind="stable")[:, :n]

    return probe


def _pq_encode(x, codebooks):
    """The one PQ encoder: per contiguous subspace, the nearest
    codeword by the |c|² − 2·x@cᵀ expansion (argmin-invariant in |x|²)
    — a true matmul, O(rows × k) memory, never a (rows × k × sub)
    broadcast temporary.  Returns (rows × m) int32 codes."""
    import numpy as np

    sub = x.shape[1] // len(codebooks)
    out = np.empty((len(x), len(codebooks)), dtype=np.int32)
    for s, cb in enumerate(codebooks):
        c = np.asarray(cb, dtype=np.float64)
        d2 = (c * c).sum(axis=1)[None, :] - 2.0 * (x[:, s * sub : (s + 1) * sub] @ c.T)
        out[:, s] = np.argmin(d2, axis=1)
    return out


def _sample_vectors(corpus: DataFrame, *, id_col: str, vec_col: str, sample: int):
    """The bounded deterministic driver-side training sample shared by
    IVF and PQ: hash-ordered limit, ≤ ``sample`` rows by construction."""
    return [
        r["v"]
        for r in corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(int(sample))
        .collect()
    ]


def _spherical_kmeans(sample_vecs, k: int, iters: int):
    """The one coarse trainer: spherical k-means on a driver-side
    sample (numpy).  Returns the unit-norm centroids as float rows
    (k × d).  Deterministic — init is the first k sample vectors (the
    sample itself is hash-ordered)."""
    import numpy as np

    x = np.asarray(sample_vecs, dtype=np.float64)
    if x.size == 0:
        raise ValueError("empty corpus: k-means training sample has no vectors")
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    if not len(x):
        raise ValueError(
            "all-zero corpus: every k-means training vector has zero norm, so no centroid has a direction"
        )
    k = min(k, len(x))
    cent = x[:k].copy()
    for _ in range(iters):
        assign = _nearest(x, cent)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return [[float(v) for v in row] for row in cent]


# ---------------------------------------------------------------------- IVF


def _nearest_list_udf(cent_rows):
    """Nearest-centroid assignment UDF — ONE definition for every IVF
    surface (in-memory, index build, IVF-PQ, at-rest build)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    c = np.asarray(cent_rows, dtype=np.float64)

    @pandas_udf("int")
    def nearest_list(vs: pd.Series) -> pd.Series:
        return pd.Series(_nearest(_stack(vs), c).astype("int32"))

    return nearest_list


def _probed_queries(queries: DataFrame, cent_rows, nprobe: int, *, id_col: str, vec_col: str) -> DataFrame:
    """Each query row once per probed list: (query_id, q_v, list_id)."""
    from pyspark.sql.functions import pandas_udf

    probe = _prober(cent_rows, nprobe)

    @pandas_udf("array<int>")
    def probe_lists(vs: pd.Series) -> pd.Series:
        return pd.Series([row.astype("int32").tolist() for row in probe(_stack(vs))])

    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_v"),
        F.explode(probe_lists(F.col(vec_col))).alias("list_id"),
    )


def _ivf_scored_topk(vecs: DataFrame, q_probed: DataFrame, k: int) -> DataFrame:
    """The one IVF scorer: every (query, vector) pair sharing a list,
    self-matches dropped, scored by exact cosine, then the top-k tail.
    The caller decides whether ``q_probed`` is broadcast."""
    scored = (
        vecs.join(q_probed, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("q_v"), F.col("n_v")))
    )
    return _topk_tail(scored, "cos_sim", k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Scale shape for a 100 TB corpus:
    1. **Train** — spherical k-means on a small deterministic sample
       (hash-ordered limit; a driver-side model fit, like fitting any
       small ML model).
    2. **Assign** — every corpus vector gets its nearest-centroid list
       id via ONE Arrow-batched pandas UDF (a numpy matmul per batch);
       the corpus never shuffles and the assignment is a narrow map.
       At scale this column is written once at ingest and reused by
       every query (here it is computed inline).
    3. **Probe** — each query searches only its ``nprobe`` closest
       lists: candidates = corpus rows whose list id matches one of
       the query's probed lists (queries broadcast), scored exactly.

    With ``nprobe == n_centroids`` every list is probed and the result
    equals ``brute_force_topk`` exactly (the property the tests pin).
    Returns (query_id, neighbor_id, cos_sim).
    """
    cent_rows = _spherical_kmeans(
        _sample_vectors(corpus, id_col=id_col, vec_col=vec_col, sample=sample), n_centroids, iters
    )
    q_probed = _probed_queries(queries, cent_rows, nprobe, id_col=id_col, vec_col=vec_col)
    if queries is not corpus:  # self-search must not broadcast the corpus
        q_probed = F.broadcast(q_probed)
    return _ivf_scored_topk(assign_to_index(corpus, cent_rows, id_col=id_col, vec_col=vec_col), q_probed, k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: all pairs with
    cosine ≥ threshold (id_a < id_b).

    ``use_lsh=False`` scores every pair — exact, O(n²), the oracle
    baseline.  ``use_lsh=True`` restricts scoring to random-hyperplane
    bucket collisions — the 100 TB path (recall < 1 for pairs near the
    threshold, tunable via tables/planes): a plain shuffle equi-join of
    the bucketed corpus with itself on (table, bucket) — nothing is
    broadcast, nothing is ranked; candidates go straight through the
    cosine threshold filter.
    """
    if use_lsh:
        kw = dict(dim=dim, n_planes=12, n_tables=4, id_col=id_col, vec_col=vec_col)
        ba = _lsh_buckets(corpus, "x", **kw)
        bb = _lsh_buckets(corpus, "y", **kw)
        cand = (
            ba.join(bb, ["table", "bucket"])
            .where(F.col("x_id") < F.col("y_id"))
            .select(F.col("x_id").alias("id_a"), F.col("y_id").alias("id_b"), "x_v", "y_v")
            .dropDuplicates(["id_a", "id_b"])
        )
        return (
            cand.withColumn("cos_sim", cosine(F.col("x_v"), F.col("y_v")))
            .where(F.col("cos_sim") >= F.lit(threshold))
            .select("id_a", "id_b", "cos_sim")
        )
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cosine(F.col("va"), F.col("vb")))
        .where(F.col("cos_sim") >= F.lit(threshold))
        .select("id_a", "id_b", "cos_sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    threshold: float = 0.95,
    n_centroids: int = 64,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, then inside each
    cluster drop every vector whose cosine similarity to a LOWER-id
    cluster member exceeds ``threshold`` (greedy keep-first, the
    paper's keep-one-per-duplicate-group policy made deterministic by
    id order).  Returns (vec_id, kept, cluster_id, dup_of) — ``dup_of``
    is the smallest-id member it duplicates, NULL for kept rows.

    Scale shape: centroids fit on a driver-side sample (like
    ``ivf_topk``), assignment is one Arrow-batched narrow map, and the
    pairwise scoring happens ONLY within clusters via a self-join on
    ``cluster_id`` — a shuffle keyed by cluster with no broadcast of
    either side.  Cluster sizes are ~n/k, so the per-key pair work is
    (n/k)² instead of the corpus-wide n²; at 100 TB k scales with the
    corpus to keep lists bounded.  The greedy keep-first rule needs no
    iteration: a vector is dropped iff SOME lower-id member within the
    cluster is similar — kept/dropped status of the lower member does
    not matter for the paper's dedup semantics (similarity is
    near-transitive above high thresholds), which is what makes this a
    single join + aggregation instead of a sequential scan.
    """
    cent_rows = _spherical_kmeans(
        _sample_vectors(corpus, id_col=id_col, vec_col=vec_col, sample=sample), n_centroids, iters
    )
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        _nearest_list_udf(cent_rows)(F.col(vec_col)).alias("cluster_id"),
    )
    lo = assigned.select(
        F.col("cluster_id"), F.col("vec_id").alias("_lo_id"), F.col("_v").alias("_lo_v")
    )
    dup = (
        assigned.join(lo, "cluster_id")
        .where(F.col("_lo_id") < F.col("vec_id"))
        .where(cosine(F.col("_v"), F.col("_lo_v")) >= F.lit(float(threshold)))
        .groupBy("vec_id")
        .agg(F.min("_lo_id").alias("dup_of"))
    )
    return assigned.join(dup, "vec_id", "left").select(
        "vec_id",
        F.col("dup_of").isNull().alias("kept"),
        "cluster_id",
        "dup_of",
    )


def projection_matrix(in_dim: int, out_dim: int, salt: str = "proj") -> list[list[float]]:
    """Deterministic dense random-projection matrix R[k][d] in
    [-1, 1]: entry (d, k) is derived from md5(f"{d}:{k}:{salt}") the
    same way :func:`corpus.det_hash_bucket` derives buckets — so any
    engine (and the DuckDB oracle) reproduces it exactly, no RNG state
    to ship."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{d}:{k}:{salt}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for d in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def random_projection(
    embs: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss-style dimensionality reduction: project
    each vector onto ``out_dim`` deterministic pseudo-random
    directions.  The workhorse pre-filter for ANN at scale — distances
    survive approximately, and an 8-d probe costs 1/8th the shuffle
    bytes and compute of a 64-d scan.

    Pure Catalyst: the matrix rides along as array literals and each
    output component is one ``zip_with`` + ``aggregate`` fold —
    whole-stage-codegen'd JVM arithmetic, no UDF, no shuffle (narrow
    map)."""
    R = projection_matrix(in_dim, out_dim, salt)
    v = F.col(vec_col)
    cols = [_dot(v, F.lit([float(x) for x in R[k]])).alias(f"p{k}") for k in range(out_dim)]
    return embs.select(F.col(id_col), *cols)


def int8_quantize(
    embs: DataFrame, *, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization:
    ``q[d] = floor(v[d] / scale * 127 + 0.5)`` with
    ``scale = max(|v|)`` — 4× smaller vectors (and shuffle bytes) at a
    bounded reconstruction error of ``scale/254`` per component, the
    standard storage form for billion-vector ANN indexes.

    ``floor(x + 0.5)`` rather than ``round`` because engines disagree
    on round-half semantics (Spark HALF_UP vs banker's variants) —
    the explicit floor form is bit-identical everywhere.  All-zero
    vectors quantize to all-zero (scale 0 guarded).  Narrow map,
    JVM-side."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x.cast("double") / scale * 127.0 + 0.5).cast("int"))
    )
    return embs.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
    )


# ------------------------------------------------------------ index tables


def _write_table(spark, rows, schema: str, path: str) -> None:
    """One tiny single-file index table (centroids, codebooks,
    rotation, meta)."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)


def _write_centroids(spark, path: str, cent_rows) -> None:
    _write_table(spark, list(enumerate(cent_rows)), "list_id int, centroid array<double>", f"{path}/centroids")


def _read_centroids(spark, path: str) -> list:
    rows = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def _write_codebooks(spark, path: str, cbs) -> None:
    rows = [(s, c, row) for s, cb in enumerate(cbs) for c, row in enumerate(cb)]
    _write_table(spark, rows, "subspace int, code int, centroid array<double>", f"{path}/codebooks")


def _read_codebooks(spark, path: str) -> list:
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    cbs = [[] for _ in range(max(r["subspace"] for r in rows) + 1)]
    for r in rows:
        cbs[r["subspace"]].append([float(x) for x in r["centroid"]])
    return cbs


def _write_codes(coded: DataFrame, path: str, mode: str) -> None:
    """Write (vec_id, codes, list_id) rows into the list-partitioned
    codes table, range-partitioned on (list_id, vec_id): unranged,
    every task writes a file into every list directory (measured 899
    files/list after 30 streaming appends, a 21× serve slowdown);
    ranged, each batch adds ~1 vec_id-sorted run per list.  The
    vec_id bloom serves the append's anti-join."""
    from opentsdb_aura_spark.sources.batch import bloom_options

    ranged = coded.repartitionByRange("list_id", "vec_id").sortWithinPartitions("list_id", "vec_id")
    writer = bloom_options(ranged.write.mode(mode), "vec_id", plain_encoding=("vec_id",))
    writer.partitionBy("list_id").parquet(f"{path}/codes")


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 16,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: the 'assign once at ingest' half of
    :func:`ivf_topk` made real.  Writes

    - ``{path}/centroids`` — the k unit-norm centroids (tiny table),
    - ``{path}/vectors``  — every corpus vector with its nearest-list
      id, ``partitionBy("list_id")`` — so a probe that touches
      ``nprobe`` of ``n_centroids`` lists SCANS only that fraction of
      the corpus via static partition pruning, not filter-after-read.

    Training is the same bounded deterministic sample + driver-side
    spherical k-means; assignment is one Arrow-batched matmul pass.
    Rebuild on drift is a full rewrite (like any index); appending a
    new batch is ``assign_to_index`` + append to the vectors table."""
    cent_rows = _spherical_kmeans(
        _sample_vectors(corpus, id_col=id_col, vec_col=vec_col, sample=sample), n_centroids, iters
    )
    _write_centroids(corpus.sparkSession, path, cent_rows)
    assign_to_index(corpus, cent_rows, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{path}/vectors")


def assign_to_index(
    batch: DataFrame, cent_rows: list, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid assignment for a (new) vector batch — one
    Arrow-batched numpy matmul, narrow map.  Used by the index build,
    by incremental appends and by :func:`ivf_topk`."""
    return batch.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_v"),
        _nearest_list_udf(cent_rows)(F.col(vec_col)).alias("list_id"),
    )


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index.  The probed list ids are at most
    ``n_centroids`` distinct values (bounded by the index, NOT by the
    query count), so they collect to the driver and push down as an
    ``isin`` partition filter — the vectors scan reads ONLY the probed
    ``list_id=`` directories.  Scoring and exact top-k are identical
    to :func:`ivf_topk`; with ``nprobe == n_centroids`` the result is
    exact."""
    q_probed = _probed_queries(queries, _read_centroids(spark, path), nprobe, id_col=id_col, vec_col=vec_col)
    probed_ids = sorted({r["list_id"] for r in q_probed.select("list_id").distinct().collect()})
    vecs = spark.read.parquet(f"{path}/vectors").where(F.col("list_id").isin(probed_ids))
    return _ivf_scored_topk(vecs, F.broadcast(q_probed), k)


# ----------------------------------------------------- product quantization


def _subspace_kmeans(sample_vecs, m: int, k: int, iters: int):
    """Plain-L2 k-means per contiguous subspace on a driver-side
    sample: returns m codebooks of EQUAL length (short subspaces —
    fewer than k distinct subvectors — are padded by repeating their
    first centroid, which is argmin- and LUT-neutral: duplicates can
    never win a tie over the first occurrence and duplicate LUT
    entries are simply never the gathered index).  Deterministic —
    init is the first k distinct subvectors IN SAMPLE ORDER (the
    sample is hash-ordered by the caller); clusters that lose all
    members keep their previous centroid.  Assignment is the shared
    ``_pq_encode`` on one subspace."""
    import numpy as np

    x = np.asarray(sample_vecs, dtype=np.float64)
    if x.size == 0:
        raise ValueError("empty corpus: PQ training sample has no vectors")
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    books = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        # first-k-distinct in SAMPLE order (np.unique alone would sort
        # lexicographically and bias every init into the low corner)
        _, first_idx = np.unique(xs, axis=0, return_index=True)
        cent = xs[np.sort(first_idx)][: min(k, len(first_idx))].copy()
        for _ in range(iters):
            assign = _pq_encode(xs, [cent])[:, 0]
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent)
    k_max = max(len(b) for b in books)
    padded = [np.concatenate([b, np.repeat(b[:1], k_max - len(b), axis=0)]) for b in books]
    return [[[float(v) for v in row] for row in b] for b in padded]


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search"): the vector space is
    split into ``m`` contiguous subspaces and each gets its own
    k-means codebook, so a d-dim float vector compresses to m small
    codes (k=256 → m bytes) while distances remain computable from
    per-subspace lookup tables.  Training is the same bounded
    deterministic driver-side sample as the IVF index; returns the
    codebooks (list of m × (k × sub_dim))."""
    return _subspace_kmeans(_sample_vectors(corpus, id_col=id_col, vec_col=vec_col, sample=sample), m, k, iters)


def opq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    opq_iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train an Optimized-PQ rotation + codebooks (Ge et al.,
    "Optimized Product Quantization for Approximate Nearest Neighbor
    Search", CVPR 2013 — the non-parametric alternation): repeat
    (1) rotate the sample by R, (2) train PQ codebooks on the rotated
    sample, (3) encode→decode for the reconstruction Ŷ, (4) solve the
    orthogonal Procrustes problem min‖XR − Ŷ‖ via R = UVᵀ from
    SVD(XᵀŶ).  The learned R decorrelates/balances variance across
    subspaces, so contiguous-split PQ loses less on anisotropic data
    (plain PQ is the R = I special case).

    Runs entirely on the bounded deterministic driver sample (the
    same ``_sample_vectors`` cap as PQ/IVF — d×d SVDs of a ≤4096×d
    sample, never a distributed job).  Search stays
    rotation-invariant for cosine: |xR| = |x|, (qR)·(xR) = q·x, so
    rotating queries with the stored R reuses the unmodified ADC LUT
    path.  Returns (rotation d×d as lists, codebooks)."""
    import numpy as np

    smp = _sample_vectors(corpus, id_col=id_col, vec_col=vec_col, sample=sample)
    x = np.asarray(smp, dtype=np.float64)
    if x.size == 0:
        raise ValueError("empty corpus: OPQ training sample has no vectors")
    R = np.eye(x.shape[1])  # _subspace_kmeans rejects a dim not divisible by m
    for _ in range(int(opq_iters)):
        y = x @ R
        books = _subspace_kmeans(y, m, k, iters)
        codes = _pq_encode(y, books)
        yhat = np.concatenate(
            [np.asarray(cb, dtype=np.float64)[codes[:, s]] for s, cb in enumerate(books)], axis=1
        )
        u, _, vt = np.linalg.svd(x.T @ yhat)
        R = u @ vt
    books = _subspace_kmeans(x @ R, m, k, iters)  # align codebooks to final R
    return [[float(v) for v in row] for row in R], books


def _encode_codes_udf(codebooks, rotation=None):
    """The PQ-encode pandas UDF — ONE definition shared by
    ``pq_encode`` and the IVF-PQ coded frame so stored codes and
    IVF-PQ scoring can never diverge.  ``rotation`` (OPQ)
    pre-multiplies the batch by R — one extra narrow matmul, the codes
    then live in the rotated space and the codebooks must be the
    rotated-space ones."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64)

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        x = _stack(vs)
        if rot is not None:
            x = x @ rot
        return pd.Series([row.tolist() for row in _pq_encode(x, cbs)])

    return encode


def pq_encode(
    embs: DataFrame,
    codebooks,
    *,
    rotation=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to their PQ codes — one Arrow-batched argmin per
    subspace (a numpy matmul), narrow map, no shuffle.  At scale the
    codes column is written once at ingest (m bytes/vector vs 4d) and
    every ADC search reads codes only.  ``rotation`` applies the OPQ
    rotation inside the same Arrow pass (one extra matmul).  Returns
    (id, codes array<int>)."""
    encode = _encode_codes_udf(codebooks, rotation=rotation)
    return embs.select(F.col(id_col).alias("vec_id"), encode(F.col(vec_col)).alias("codes"))


def _adc_luts(q_mat, codebooks):
    """Per-query inner-product LUTs (nq × m × k) + the shared
    reconstruction-norm LUT (m × k)."""
    import numpy as np

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = q_mat.shape[1] // len(cbs)
    ip_lut = np.stack(
        [q_mat[:, s * sub : (s + 1) * sub] @ cbs[s].T for s in range(len(cbs))], axis=1
    )
    n2_lut = np.stack([(c * c).sum(axis=1) for c in cbs])
    return ip_lut, n2_lut


def _adc_score_batch(pdf, q_ids, q_norm, ip_lut, n2_lut, probe_sets=None, residual_luts=None):
    """Score one Arrow batch of code rows against every collected
    query (optionally masked to each query's probed lists): returns
    (query_id, neighbor_id, pq_score) numpy columns.

    ``residual_luts`` switches to residual-IVFADC scoring (codes
    encode x − c_list, the Jégou et al. §IV layout): the decoded
    vector is c_list + d̂, so num gains the per-(query, list) q·c term
    and |v|² expands to |c|² + 2·c·d̂ + |d̂|² — the c·d̂ cross term is
    one more LUT gather against the per-list (L × m × k) table, so
    per-row cost stays m gathers + sums, never a float reconstruction."""
    import numpy as np

    codes = np.stack(pdf["codes"].apply(lambda a: np.asarray(a, dtype=np.int64)))
    nids = pdf["vec_id"].to_numpy(dtype=np.int64)
    need_lists = probe_sets is not None or residual_luts is not None
    lists = pdf["list_id"].to_numpy(dtype=np.int64) if need_lists else None
    m_idx = np.arange(codes.shape[1])
    d_n2 = n2_lut[m_idx, codes].sum(axis=1)  # |d̂|² (raw mode: |v̂|²)
    if residual_luts is not None:
        qc, cl_ip, c_n2 = residual_luts  # (nq, L), (L, m, k), (L,)
        cl_term = cl_ip[lists[:, None], m_idx[None, :], codes].sum(axis=1)  # c·d̂
        vnorm = np.sqrt(np.maximum(c_n2[lists] + 2.0 * cl_term + d_n2, 0.0))
    else:
        vnorm = np.sqrt(d_n2)
    out_q, out_n, out_s = [], [], []
    for qi in range(len(q_ids)):
        cds, nid, vn, lst = codes, nids, vnorm, lists
        if probe_sets is not None:
            mask = np.isin(lists, list(probe_sets[qi]))
            if not mask.any():
                continue
            cds, nid, vn, lst = codes[mask], nids[mask], vnorm[mask], lists[mask]
        num = ip_lut[qi][m_idx, cds].sum(axis=1)
        if residual_luts is not None:
            num = num + qc[qi][lst]
        denom = q_norm[qi] * vn
        score = np.where(denom == 0.0, 0.0, num / np.where(denom == 0.0, 1.0, denom))
        out_q.append(np.full(len(nid), q_ids[qi], dtype=np.int64))
        out_n.append(nid)
        out_s.append(score)
    if not out_q:
        return None
    return np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_s)


_EMPTY_ADC = "query_id bigint, neighbor_id bigint, pq_score double"


def _adc_search(
    codes: DataFrame, queries: DataFrame, cbs, *, k, max_queries, caller, id_col, vec_col,
    rotation=None, cent_rows=None, nprobe=None, residual=False,
) -> DataFrame:
    """The one ADC search core: collect the queries (hard-capped at
    ``max_queries``), rotate them for OPQ, build their LUTs, score
    ``codes`` batch by batch in mapInPandas and keep the top-k.  With
    ``cent_rows`` it is the IVF-PQ search: each query's lists are
    probed on the driver, their union pushes into the ``codes`` scan as
    an ``isin`` filter (a PARTITION filter over the at-rest table) and
    the gather is masked to each query's own lists; ``residual`` adds
    the c_list tables for codes of x − c_list."""
    import numpy as np

    probe = None if cent_rows is None else _prober(cent_rows, nprobe)
    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).limit(int(max_queries) + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"{caller} collects the query side; got > max_queries={max_queries} rows — "
            "raise max_queries explicitly for bulk scoring"
        )
    if not q_rows:  # an empty collect must not reach axis-1 numpy ops
        return codes.sparkSession.createDataFrame([], _EMPTY_ADC)
    q_ids = [int(r["qid"]) for r in q_rows]
    q_mat = np.asarray([list(map(float, r["qv"])) for r in q_rows], dtype=np.float64)
    if rotation is not None:
        q_mat = q_mat @ np.asarray(rotation, dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    ip_lut, n2_lut = _adc_luts(q_mat, cbs)
    probe_sets = residual_luts = None
    if probe is not None:
        probe_sets = [set(int(l) for l in row) for row in probe(q_mat)]
        probed_union = sorted({l for row in probe_sets for l in row})
        codes = codes.where(F.col("list_id").isin(probed_union) if probed_union else F.lit(False))
    if residual:  # codes decode to c_list + d̂: add the q·c, c·d̂ and |c|² tables
        c = np.asarray(cent_rows, dtype=np.float64)
        sub = c.shape[1] // len(cbs)
        books = [np.asarray(cb, dtype=np.float64) for cb in cbs]
        cl_ip = np.stack(
            [np.stack([c[l, s * sub : (s + 1) * sub] @ b.T for s, b in enumerate(books)]) for l in range(len(c))]
        )
        residual_luts = (q_mat @ c.T, cl_ip, (c * c).sum(axis=1))

    def op(batches):
        import pandas as pd_

        for pdf in batches:
            res = _adc_score_batch(
                pdf, q_ids, q_norm, ip_lut, n2_lut, probe_sets=probe_sets, residual_luts=residual_luts
            ) if len(pdf) else None
            yield pd_.DataFrame(dict(zip(("query_id", "neighbor_id", "pq_score"), res or ([], [], []))))

    scored = codes.mapInPandas(op, schema=_EMPTY_ADC)
    return _topk_tail(scored.where(F.col("query_id") != F.col("neighbor_id")), "pq_score", k)


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks,
    *,
    k: int = 5,
    max_queries: int = 4096,
    rotation=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) cosine top-k over PQ codes: each
    query builds one (m × k) inner-product lookup table against the
    codebooks, every corpus vector's score is m table gathers + a sum
    — the corpus is read as CODES ONLY (m ints/vector), never floats.
    Cosine uses the reconstruction norm, itself a second LUT sum, so
    the score is exactly the cosine of (query, decoded vector).

    The query matrix is collected driver-side (hard-capped at
    ``max_queries`` — ANN serving batches are small; raise explicitly
    for bulk joins) and shipped in the Arrow closure with the
    codebooks; scoring is one vectorized gather per batch inside
    mapInPandas, then a window top-k.  ``rotation`` (OPQ) rotates the
    query matrix driver-side — cosine is rotation-invariant, so the
    LUT/gather path runs unchanged in the rotated space.  Returns
    (query_id, neighbor_id, pq_score)."""
    return _adc_search(
        corpus_codes, queries, codebooks, k=k, max_queries=max_queries, caller="pq_adc_topk",
        rotation=rotation, id_col=id_col, vec_col=vec_col,
    )


GRID_LEVELS = 255  # odd: 0.0 sits exactly ON a grid point (index 127)


def _grid_codebooks(dim: int):
    """The uniform-grid PQ codebooks (one 1-d subspace per dimension,
    GRID_LEVELS points over [-1, 1]) — ONE definition shared by every
    grid twin (in-memory IVF-PQ, PQ index build, IVFADC index build)
    so the decode-side values can never diverge from _grid_codes and
    the oracle SQL."""
    step = 2.0 / (GRID_LEVELS - 1)
    return [[[i * step - 1.0] for i in range(GRID_LEVELS)] for _ in range(dim)]


def _grid_codes(v_expr, *, levels: int, lo: float, hi: float):
    """The closed-form grid-code expression (clamp+floor map) shared by
    grid_quantize_vectors and the IVF-PQ coded frame's grid branch —
    one definition so the two surfaces can never diverge from the
    oracle SQL."""
    span = float(hi) - float(lo)
    return F.transform(
        v_expr,
        lambda v: F.greatest(
            F.least(
                F.floor(
                    (v.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(float(levels - 1))
                    + F.lit(0.5)
                ).cast("int"),
                F.lit(int(levels - 1)),
            ),
            F.lit(0),
        ),
    )


def grid_quantize_vectors(
    embs: DataFrame,
    *,
    levels: int = GRID_LEVELS,
    lo: float = -1.0,
    hi: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The degenerate-PQ twin of ``int8_quantize``: every dimension is
    its own subspace and the codebook is a uniform grid, so encoding
    is the CLOSED-FORM ``clamp(floor((x-lo)/(hi-lo)*(levels-1)+0.5))``
    — bit-identical on every engine (the explicit floor form, exactly
    as ``int8_quantize`` documents) instead of an argmin whose
    tie-breaking engines disagree on.  Returns (vec_id, codes).  With
    ``grid_decode`` this makes a PQ storage layer whose search results
    are FULLY oracle-checkable: cosine over the decoded vectors equals
    a SQL recomputation exactly (the catalog twin ann_pq_exact_topk)."""
    return embs.select(
        F.col(id_col).alias("vec_id"),
        _grid_codes(F.col(vec_col), levels=levels, lo=lo, hi=hi).alias("codes"),
    )


def grid_decode(
    codes_df: DataFrame,
    *,
    levels: int = GRID_LEVELS,
    lo: float = -1.0,
    hi: float = 1.0,
) -> DataFrame:
    """Decode grid codes back to float vectors:
    ``value = code * ((hi-lo)/(levels-1)) + lo`` — the same constant
    expression a SQL oracle evaluates, so decoded values are
    bit-identical across engines.  Returns (vec_id, embedding)."""
    step = (float(hi) - float(lo)) / float(levels - 1)
    return codes_df.select(
        "vec_id",
        F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.lit(step) + F.lit(float(lo))
        ).alias("embedding"),
    )


# ------------------------------------------------------------------ IVF-PQ


def _ivfpq_codebooks(corpus: DataFrame, *, n_centroids, m, pq_k, iters, sample, grid, residual, id_col, vec_col):
    """The one IVF-PQ trainer: coarse centroids from the shared sample,
    then the PQ codebooks — the closed-form grid, codebooks trained on
    the residuals x − c_list, or codebooks trained on the raw sample.
    Returns (centroid rows, codebooks)."""
    import numpy as np

    if grid and residual:
        raise ValueError("grid twin is defined on raw vectors; residual=True needs trained codebooks")
    smp = _sample_vectors(corpus, id_col=id_col, vec_col=vec_col, sample=sample)
    cent_rows = _spherical_kmeans(smp, n_centroids, iters)
    if grid:
        return cent_rows, _grid_codebooks(len(smp[0]))
    if residual:
        x = np.asarray(smp, dtype=np.float64)
        c = np.asarray(cent_rows, dtype=np.float64)
        smp = (x - c[_nearest(x, c)]).tolist()
    return cent_rows, _subspace_kmeans(smp, m, pq_k, iters)


def _ivfpq_coded(df: DataFrame, cent_rows, cbs, *, grid, residual, id_col, vec_col) -> DataFrame:
    """Every row of ``df`` as (vec_id, codes, list_id) in ONE Arrow
    pass — a join of two separately-derived frames would scan twice
    and shuffle on the id.  Residual codes come from one fused
    assign-then-encode UDF, so the residual x − c_list is taken
    against exactly the list the row lands in; otherwise the nearest
    list rides beside the grid or trained codes."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    v = F.col(vec_col)
    if residual:
        c = np.asarray(cent_rows, dtype=np.float64)
        books = [np.asarray(cb, dtype=np.float64) for cb in cbs]

        @pandas_udf("list_id int, codes array<int>")
        def enc(vs: pd.Series) -> pd.DataFrame:
            x = _stack(vs)
            assign = _nearest(x, c)
            codes = _pq_encode(x - c[assign], books)
            return pd.DataFrame({"list_id": assign.astype("int32"), "codes": [row.tolist() for row in codes]})

        return df.select(F.col(id_col).alias("vec_id"), enc(v).alias("_lc")).select(
            "vec_id", F.col("_lc.codes").alias("codes"), F.col("_lc.list_id").alias("list_id")
        )
    codes = _grid_codes(v, levels=GRID_LEVELS, lo=-1.0, hi=1.0) if grid else _encode_codes_udf(cbs)(v)
    return df.select(
        F.col(id_col).alias("vec_id"), codes.alias("codes"), _nearest_list_udf(cent_rows)(v).alias("list_id")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    iters: int = 5,
    sample: int = 4096,
    max_queries: int = 4096,
    grid: bool = False,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (the IVFADC serving architecture): IVF lists bound WHICH
    vectors are scored, PQ codes bound WHAT is read per vector — at
    100 TB a query touches ``nprobe/n_centroids`` of the corpus
    directories AND only m bytes per vector in them.

    One Arrow pass (a single corpus scan) gives every vector its list
    id AND its PQ codes; the search over them is
    :func:`ivfpq_search_index`'s, on codes that are never written.

    ``grid=True`` swaps the trained codebooks for the closed-form
    uniform grid (``_grid_codes``) — with ``nprobe == n_centroids``
    the output then equals cosine top-k over the grid-quantized
    vectors exactly, the oracle-able twin (``ann_ivfpq_exact_topk``).

    ``residual=True`` is the faithful Jégou et al. §IV IVFADC layout:
    codebooks are trained on (x − c_list) and codes encode the
    RESIDUAL, so quantization noise spans the within-cluster spread
    instead of the whole space — on clustered data this tightens the
    score error materially (asserted in tests).  Scoring stays LUT
    gathers: the decoded vector is c_list + d̂, handled by the q·c and
    c·d̂ lookup terms in ``_adc_score_batch``; per-vector bytes and
    the probe pruning are unchanged.  Returns
    (query_id, neighbor_id, pq_score)."""
    cent_rows, cbs = _ivfpq_codebooks(
        corpus, n_centroids=n_centroids, m=m, pq_k=pq_k, iters=iters, sample=sample,
        grid=grid, residual=residual, id_col=id_col, vec_col=vec_col,
    )
    coded = _ivfpq_coded(corpus, cent_rows, cbs, grid=grid, residual=residual, id_col=id_col, vec_col=vec_col)
    return _adc_search(
        coded, queries, cbs, k=k, max_queries=max_queries, caller="ivfpq_topk", id_col=id_col,
        vec_col=vec_col, cent_rows=cent_rows, nprobe=nprobe, residual=residual,
    )


def shortlist_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-rank of an approximate shortlist — the standard
    two-stage ANN serving shape (PQ/IVF shortlists cheaply from codes,
    the float vectors are touched for ONLY the shortlist pairs).

    ``shortlist`` is any (query_id, neighbor_id, …) frame (ADC top-k',
    LSH candidates, IVF probe output).  The float read is an equi-join
    of the shortlist against the corpus on neighbor_id — at 100 TB
    that is nq × k' vector rows, not a scan; the (small, bounded)
    query side broadcasts.  Returns (query_id, neighbor_id, cos_sim)
    exact top-k.  Rerank can only improve shortlist ordering: recall@k
    of the output ≥ recall@k of the shortlist head (bound-tested)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    pairs = (
        shortlist.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("nv")))
    )
    return _topk_tail(pairs, "cos_sim", k)


def ann_recall_vs_exact(
    exact: DataFrame, approx: DataFrame, *, k_exact: int, k_approx: int
) -> DataFrame:
    """Recall@k_approx of an approximate ANN result against its exact
    twin, AS A RESULT ROW — so the quantitative quality claim of a
    trained path (PQ/IVFPQ shortlisting) is re-attested by the driver
    every rotation, not only in scale-validation logs.  Both inputs
    are (query_id, neighbor_id, …) top-k frames; returns ONE row
    (k_exact, k_approx, n_queries, n_truth, n_hit, recall) via a
    left-semi membership join + one global agg — no collect, scales
    with the truth set (n_queries × k_exact rows)."""
    truth = exact.select("query_id", "neighbor_id")
    short = approx.select("query_id", "neighbor_id")
    hits = truth.join(short, ["query_id", "neighbor_id"], "left_semi")
    marked = truth.withColumn("_hit", F.lit(0)).unionByName(
        hits.withColumn("_hit", F.lit(1))
    )
    # truth rows appear once with _hit=0 plus once more with _hit=1 iff
    # recalled: max(_hit) per pair is the membership bit
    per_pair = marked.groupBy("query_id", "neighbor_id").agg(F.max("_hit").alias("hit"))
    return per_pair.agg(
        F.lit(int(k_exact)).alias("k_exact"),
        F.lit(int(k_approx)).alias("k_approx"),
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_truth"),
        F.sum("hit").cast("long").alias("n_hit"),
        F.round(F.sum("hit") / F.count("*"), 4).alias("recall"),
    )


def _write_index_meta(spark, path: str, grid: bool, residual: bool = False, opq: bool = False) -> None:
    """Persist the explicit encoding markers (one-row table): shape
    inference (all 1-d subspaces + exactly GRID_LEVELS entries) would
    misdetect a TRAINED index built with m == dim and pq_k ==
    GRID_LEVELS and silently append grid-encoded codes inconsistent
    with the saved codebooks; the residual and opq flags likewise
    cannot be inferred from the codebooks at all (an OPQ index scored
    or appended without its rotation returns wrong neighbors with no
    error)."""
    rows = [(bool(grid), bool(residual), bool(opq))]
    _write_table(spark, rows, "grid boolean, residual boolean, opq boolean", f"{path}/meta")


def _read_index_meta(spark, path: str, cbs) -> tuple[bool, bool, bool]:
    """Read the persisted encoding markers (grid, residual); ONLY a
    legacy index (no ``meta`` directory at all, written before the
    markers existed) falls back to the old shape heuristic for grid
    and residual=False.  Any other read failure (transient IO,
    permissions, corrupt parquet) re-raises: silently defaulting to
    residual=False there would score a residual index with raw-code
    math and let appends mix encodings in one index — the exact
    corruption the marker exists to prevent."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(f"{path}/meta").head(1)[0]
        d = row.asDict()
        return bool(d["grid"]), bool(d.get("residual", False)), bool(d.get("opq", False))
    except AnalysisException as exc:
        # Path-missing is the legacy-index case; anything else is real.
        if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
            raise
        return (
            len(cbs) > 0
            and all(len(c) == 1 for c in cbs[0])
            and len(cbs[0]) == GRID_LEVELS
        ), False, False


def build_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    sample: int = 4096,
    grid: bool = False,
    opq_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a PQ index — the 'encode once at ingest' half of
    :func:`pq_adc_topk` made real (the PQ sibling of
    :func:`build_ivf_index`).  Writes

    - ``{path}/codebooks`` — (subspace, code, centroid) rows, a tiny
      table read back to the driver per search,
    - ``{path}/codes``     — every corpus vector as m small codes
      (the 1/32-of-the-bytes at-rest form ADC searches from),
    - ``{path}/rotation``  — the OPQ rotation rows (only when
      ``opq_iters > 0``), with the ``opq`` meta marker set so search
      and append can never score rotated codes with unrotated math.

    ``grid=True`` persists the closed-form uniform-grid codebooks
    instead of trained ones — searches over that index are then
    value-hash-checkable end-to-end (``ann_pq_index_topk``'s oracle).
    ``opq_iters > 0`` learns the Ge et al. rotation on the bounded
    driver sample (:func:`opq_train`) and encodes in rotated space —
    the same index layout plus one tiny d×d table.  Rebuild on drift
    is a full rewrite; appending a new batch is ``pq_encode`` with the
    SAME codebooks (and rotation) + append to codes."""
    spark = corpus.sparkSession
    rotation = None
    if grid and opq_iters > 0:
        # mutually exclusive encodings: grid codebooks are the closed-
        # form oracle anchor and never rotate — silently dropping the
        # requested OPQ would hand back unrotated codes (ADVICE r8)
        raise ValueError("build_pq_index: grid=True and opq_iters>0 are mutually exclusive")
    if grid:
        head = corpus.select(vec_col).head(1)
        if not head:
            raise ValueError("build_pq_index: empty corpus")
        cbs = _grid_codebooks(len(head[0][0]))
        codes = grid_quantize_vectors(corpus, id_col=id_col, vec_col=vec_col)
    elif opq_iters > 0:
        rotation, cbs = opq_train(
            corpus, m=m, k=k, iters=iters, opq_iters=opq_iters, sample=sample,
            id_col=id_col, vec_col=vec_col,
        )
        codes = pq_encode(corpus, cbs, rotation=rotation, id_col=id_col, vec_col=vec_col)
    else:
        cbs = pq_train(corpus, m=m, k=k, iters=iters, sample=sample, id_col=id_col, vec_col=vec_col)
        codes = pq_encode(corpus, cbs, id_col=id_col, vec_col=vec_col)
    _write_codebooks(spark, path, cbs)
    _write_index_meta(spark, path, grid, opq=rotation is not None)
    if rotation is not None:
        _write_table(spark, list(enumerate(rotation)), "row_idx int, row array<double>", f"{path}/rotation")
    from opentsdb_aura_spark.sources.batch import bloom_options

    # bloom on vec_id: append's anti-join and shortlist re-rank are
    # point lookups by id — blooms prune row groups min/max can't
    bloom_options(
        codes.write.mode("overwrite"), "vec_id", plain_encoding=("vec_id",)
    ).parquet(f"{path}/codes")


def _read_index_rotation(spark, path: str):
    """Read back the persisted OPQ rotation (row_idx-ordered d×d) —
    called only when the meta marker says the index is OPQ-encoded, so
    a missing/corrupt rotation table is an ERROR here, never a silent
    identity fallback."""
    rows = spark.read.parquet(f"{path}/rotation").orderBy("row_idx").collect()
    return [[float(v) for v in r["row"]] for r in rows]


def pq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 5,
    max_queries: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search against a persisted PQ index: codebooks (tiny) come
    back to the driver, the corpus is read as its CODES table only —
    the float vectors are never touched at serve time.  The persisted
    ``opq`` marker routes query rotation automatically.  Returns
    (query_id, neighbor_id, pq_score)."""
    cbs = _read_codebooks(spark, path)
    _, _, is_opq = _read_index_meta(spark, path, cbs)
    rotation = _read_index_rotation(spark, path) if is_opq else None
    codes = spark.read.parquet(f"{path}/codes")
    return pq_adc_topk(
        codes, queries, cbs, k=k, max_queries=max_queries, rotation=rotation,
        id_col=id_col, vec_col=vec_col,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 16,
    m: int = 8,
    pq_k: int = 16,
    iters: int = 5,
    sample: int = 4096,
    grid: bool = False,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the full IVFADC layout — both pruning axes at rest:

    - ``{path}/centroids`` — the IVF coarse centroids (tiny),
    - ``{path}/codebooks`` — the PQ codebooks (tiny),
    - ``{path}/meta``      — the (grid, residual) encoding markers,
    - ``{path}/codes``     — every vector as (vec_id, codes),
      ``partitionBy("list_id")`` — a probe reads ``nprobe`` of
      ``n_centroids`` DIRECTORIES (static partition pruning) and only
      m bytes per vector inside them.

    One Arrow pass derives codes + list id (single corpus scan).
    ``grid=True`` persists grid codebooks for the value-hash-checkable
    twin; ``residual=True`` persists the faithful Jégou et al. §IV
    layout (codes encode x − c_list — see :func:`ivfpq_topk`).
    Rebuild on drift is a rewrite; a new batch appends via the same
    assignment + encode with the SAVED centroids/codebooks (the
    markers route the append's encoder)."""
    spark = corpus.sparkSession
    cent_rows, cbs = _ivfpq_codebooks(
        corpus, n_centroids=n_centroids, m=m, pq_k=pq_k, iters=iters, sample=sample,
        grid=grid, residual=residual, id_col=id_col, vec_col=vec_col,
    )
    _write_centroids(spark, path, cent_rows)
    _write_codebooks(spark, path, cbs)
    _write_index_meta(spark, path, grid, residual=residual)
    coded = _ivfpq_coded(corpus, cent_rows, cbs, grid=grid, residual=residual, id_col=id_col, vec_col=vec_col)
    _write_codes(coded, path, "overwrite")


def ivfpq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    max_queries: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve from the persisted IVFADC index: centroids + codebooks
    come back to the driver (both tiny), each query's ``nprobe``
    closest lists are computed there, and the probed list ids push
    into the codes read as an ``isin`` PARTITION filter — the scan
    touches only the probed directories, and only codes inside them.
    The persisted residual marker routes the scoring.  Returns
    (query_id, neighbor_id, pq_score)."""
    cbs = _read_codebooks(spark, path)
    _, is_residual, _ = _read_index_meta(spark, path, cbs)
    return _adc_search(
        spark.read.parquet(f"{path}/codes"), queries, cbs, k=k, max_queries=max_queries,
        caller="ivfpq_search_index", id_col=id_col, vec_col=vec_col,
        cent_rows=_read_centroids(spark, path), nprobe=nprobe, residual=is_residual,
    )


def append_to_ivfpq_index(
    batch: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_max_files: int | None = None,
) -> None:
    """Incremental ingest into a persisted IVFADC index: the new batch
    is assigned and encoded with the SAVED centroids and codebooks
    (read back to the driver — both tiny), already-indexed ids are
    anti-joined away, and the remainder appends into the
    list-partitioned codes table.  Centroids/codebooks are never
    retrained here — a drifted corpus rebuilds via
    :func:`build_ivfpq_index` (like any index), so every vector in the
    table is encoded under ONE consistent model and at-rest search
    stays equivalent to in-memory search over the union."""
    spark = batch.sparkSession
    cent_rows, cbs = _read_centroids(spark, path), _read_codebooks(spark, path)
    # strict read: a missing codes table is a broken index, not an empty one
    fresh = new_rows(batch, spark.read.parquet(f"{path}/codes"), id_col, "vec_id")
    # The encoder follows the PERSISTED markers — shape inference would
    # misdetect a trained m==dim/pq_k==255 index, and residual is not
    # inferable from codebooks at all.
    is_grid, is_residual, _ = _read_index_meta(spark, path, cbs)
    coded = _ivfpq_coded(fresh, cent_rows, cbs, grid=is_grid, residual=is_residual, id_col=id_col, vec_col=vec_col)
    _write_codes(coded, path, "append")
    # sustained appends still accumulate ~1 run per list per batch;
    # with ``compact_max_files`` set, rewrite oversized directories
    # into few vec_id-sorted runs (sources/maintenance.py)
    if compact_max_files is not None:
        from opentsdb_aura_spark.sources.maintenance import compact_ivfpq_index

        compact_ivfpq_index(spark, path, max_files_per_list=compact_max_files)
