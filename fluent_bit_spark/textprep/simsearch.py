"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k for a (small, broadcast) query
  set. The query side crosses every data row once — one scan, no
  shuffle except the final per-query top-k (a tiny groupBy on
  query_id). This is the correctness baseline.
- lsh_buckets / lsh_topk: random-hyperplane LSH — the 100 TB path.
  Each vector gets a sign-bit bucket; candidates are only same-bucket
  rows (optionally multi-probe over neighboring buckets), so the scan
  fans in by ~2^n_planes. Hyperplanes are deterministic (seeded
  literals) so results are reproducible and oracle-checkable.

Pair scoring (few candidates after bucketing) stays in Catalyst
``zip_with``/``aggregate`` expressions. The per-row index math —
centroid assignment, probe selection, LSH sign bits — runs as numpy
over Arrow batches: Catalyst higher-order-function lambdas are
interpreted per element (~150ns/eval — see dedup.py), so evaluating
n_cells interpreted dot products per row is the whole query cost at
scale. The numpy path is bit-identical to the SQL forms: sums use a
sequential prefix (cumsum), NOT pairwise/BLAS order, so every
rounding decision (argmax, sign) matches the oracle's fold exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_bit_spark.textprep.portable import P53

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double)*cast(y as double)),"
    " cast(0 as double), (acc, z) -> acc + z)"
)
_NORM2 = (
    "aggregate({v}, cast(0 as double), (acc, x) ->"
    " acc + cast(x as double)*cast(x as double))"
)


def _hash_embed_arrow(dim: int):
    """numpy-over-Arrow bucket accumulation. Bit-identical to the SQL
    fold with NO order caveat: every increment is ±1.0, so each
    dimension's sum is an exact small integer in double regardless of
    summation order."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def emb(s: pd.Series) -> pd.Series:
        out = []
        for hs in s:
            v = np.zeros(dim, dtype=np.float64)
            if hs is not None and len(hs):
                h = np.asarray(hs, dtype=np.int64)
                np.add.at(v, h % dim, np.where((h // dim) % 2 == 0, 1.0, -1.0))
            out.append(v.tolist())
        return pd.Series(out)

    return emb


def hash_embed(
    df: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    out_col: str = "embedding",
    engine: str = "arrow",
) -> DataFrame:
    """Feature-hashing text vectorizer (the hashing trick, Weinberger
    et al. 2009): token -> h32 -> bucket h % dim, sign from the next
    hash bit, accumulated to a dense double vector. No model to
    broadcast and no training step — the natural cheap embedding for
    chunk-level retrieval and this module's clustering/ANN ops, and
    exactly reproducible in SQL for the oracle.

    engine='arrow' (default, the scale path): one numpy bucket-add per
    row. engine='sql': pure-Catalyst per-dimension aggregate folds —
    dim interpreted lambda passes over the hash array, kept only to
    cross-check the oracle rendering (same trap as the old IVF
    assignment; do not use at scale)."""
    from fluent_bit_spark.textprep import portable as P

    th = P.spark_hash_array(P.spark_tokens(text_col))
    out = df.withColumn("_th", F.expr(th))
    if engine == "arrow":
        return out.withColumn(out_col, _hash_embed_arrow(dim)(F.col("_th"))).drop(
            "_th"
        )
    dims = ",".join(
        f"aggregate(_th, cast(0 as double), (acc, h) -> acc + "
        f"(CASE WHEN h % {dim} = {i} THEN "
        f"(CASE WHEN (h div {dim}) % 2 = 0 THEN 1.0 ELSE -1.0 END) "
        "ELSE 0.0 END))"
        for i in range(dim)
    )
    return out.withColumn(out_col, F.expr(f"array({dims})")).drop("_th")


def duck_hash_embed(dim: int = 16, text_col: str = "text") -> str:
    """DuckDB rendering of the hash_embed vector over a bound ``_th``
    token-hash list (same bucket + sign arithmetic)."""
    # double literals throughout: bare 1.0 is DECIMAL in DuckDB and
    # list_sum would return Decimal, not the double the compare expects
    dims = ",".join(
        "coalesce(list_sum(list_transform(_th, h -> "
        f"CASE WHEN h % {dim} = {i} THEN "
        f"(CASE WHEN (h // {dim}) % 2 = 0 "
        "THEN 1.0::double ELSE -1.0::double END) "
        "ELSE 0.0::double END)), 0.0::double)"
        for i in range(dim)
    )
    return f"[{dims}]"


def cosine_expr(a: str, b: str) -> str:
    # zero-norm vectors (possible under signed feature hashing when
    # buckets cancel) define cos := 0 — explicit in both engines;
    # ANSI Spark would otherwise throw DIVIDE_BY_ZERO
    dot = _DOT.format(a=a, b=b)
    na = _NORM2.format(v=a)
    nb = _NORM2.format(v=b)
    return (
        f"CASE WHEN ({na}) * ({nb}) = 0 THEN cast(0 as double) "
        f"ELSE ({dot}) / sqrt(({na}) * ({nb})) END"
    )


def cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = 10_000,
    force: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, rank, neighbor_id, cos).

    ``queries`` must be small (it is broadcast; guarded by
    ``max_queries``/``force`` — pair work is |data| x |queries|, so a
    large query side silently becomes the quadratic baseline; ivf_topk
    / lsh_topk are the scale paths). Deterministic tie-break on
    neighbor id.
    """
    # the query side is bounded (guard above) and rides along as a
    # broadcast numpy matrix; each data partition scores its rows
    # against ALL queries in one numpy pass. Dots and squared norms
    # use the SAME sequential left-fold IEEE order as the interpreted
    # expressions they replace (_seq_dots cumsum prefix), and the
    # zero-norm CASE maps to cos := 0 — bit-identical unrounded
    # values; round(.,6) (HALF_UP) stays in Catalyst.
    q_id_type = queries.schema[id_col].dataType.simpleString()
    d_id_type = data.schema[id_col].dataType.simpleString()
    # the quadratic guard IS the collect: pull at most max_queries+1
    # rows in the one job that also materializes the broadcast matrix
    # (pair work is |data| x |queries|, so an oversized query side
    # silently becomes the quadratic baseline; ivf_topk / lsh_topk are
    # the scale paths)
    sel = queries.select(id_col, vec_col)
    if force:
        q_rows = sel.collect()
    else:
        q_rows = sel.limit(max_queries + 1).collect()
        if len(q_rows) > max_queries:
            raise ValueError(
                f"cosine_topk (query side): input exceeds {max_queries} "
                "rows; this is the exact quadratic verification baseline "
                "— use ivf_topk/lsh_topk at scale, or pass force=True "
                "for a deliberate exact run"
            )
    dim = len(q_rows[0][vec_col]) if q_rows else 1
    q_ids = np.asarray([r[id_col] for r in q_rows])
    q_mat, q_valid = _vec_mat(pd.Series([r[vec_col] for r in q_rows]), dim)
    q_n2 = np.cumsum(q_mat * q_mat, axis=1)[:, -1] if len(q_rows) else np.zeros(0)
    bc = data.sparkSession.sparkContext.broadcast((q_ids, q_mat, q_n2, q_valid))

    def score(batches):
        qi, qm, qn2, qok = bc.value
        nq = len(qi)
        for pdf in batches:
            if not nq or not len(pdf):
                continue
            dm, dok = _vec_mat(pdf[vec_col], dim)
            dn2 = np.cumsum(dm * dm, axis=1)[:, -1]
            dots = _seq_dots(dm, qm)
            denom = dn2[:, None] * qn2[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0, 0.0, dots / np.sqrt(denom))
            # invalid vectors: the interpreted form yields NULL cos,
            # which the downstream rank filter never selects — drop
            valid = dok[:, None] & qok[None, :]
            # per-batch top-k prune: only rows within 2e-6 of the
            # batch's k-th best unrounded cos can enter the global
            # rounded top-k (round(.,6) moves a value < 5e-7, so a
            # > 2e-6 unrounded gap stays a strict rounded gap against
            # >= k batch-local rows) — the window sees thousands of
            # candidate rows instead of |data| x |queries|
            m = len(pdf)
            cosm = np.where(valid, cos, -np.inf)
            if m > k:
                th = np.partition(cosm, m - k, axis=0)[m - k, :] - 2e-6
                keep = valid & (cosm >= th[None, :])
            else:
                keep = valid
            di, qidx = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qi[qidx],
                    "neighbor_id": pdf[id_col].values[di],
                    "cos": cos[di, qidx],
                }
            )

    scored = (
        data.select(id_col, vec_col)
        .mapInPandas(
            score,
            schema=(
                f"query_id {q_id_type}, neighbor_id {d_id_type}, cos double"
            ),
        )
        .select("query_id", "neighbor_id", F.expr("round(cos, 6)").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def hyperplanes(dim: int, n_planes: int, offset: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG state: pure
    function of indices, identical on any cluster / in the oracle).
    ``offset`` shifts the plane index so independent LSH tables get
    disjoint plane sets (table t -> offset=t*n_planes)."""
    planes = []
    for p in range(offset, offset + n_planes):
        row = []
        for i in range(dim):
            x = (p * 7919 + i * 104729 + 12345) % P53
            row.append(((x % 2000003) / 1000001.5) - 1.0)  # in [-1, 1)
        planes.append(row)
    return planes


def fixed_centroids(dim: int, n_cells: int, offset: int = 0) -> list[list[float]]:
    """Deterministic data-independent unit-norm centroids: the
    ``hyperplanes`` directions L2-normalized driver-side (Python
    ``math.sqrt`` — correctly-rounded IEEE, so the literal doubles
    round-trip exactly into Spark SQL and any oracle engine via repr).

    Use these when the cluster card must be reproducible with ZERO
    data-derived state (no collect, no seed rows): both the Spark plan
    and a SQL oracle consume the identical literal list, which removes
    every cross-engine derivation (normalization, zero-norm guards,
    seed ordering) from the comparison surface."""
    import math

    cents = []
    for row in hyperplanes(dim, n_cells, offset):
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        cents.append([x / n for x in row])
    return cents


def bucket_expr(vec_col: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket id from dot products with the hyperplanes."""
    bits = []
    for bi, plane in enumerate(planes):
        arr = "array({})".format(",".join(f"cast({x!r} as double)" for x in plane))
        dot = _DOT.format(a=vec_col, b=arr)
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << bi} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _infer_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality. Pass ``dim`` explicitly at scale — the
    fallback runs a driver-side first() job per call."""
    if dim is not None:
        return dim
    return len(df.select(vec_col).first()[0])


def lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    out_col: str = "bucket",
    dim: int | None = None,
    engine: str = "arrow",
) -> DataFrame:
    dim = _infer_dim(df, vec_col, dim)
    planes = hyperplanes(dim, n_planes)
    if engine == "arrow":
        return df.withColumn(out_col, bucket_udf(planes)(F.col(vec_col)))
    return df.withColumn(out_col, F.expr(bucket_expr(vec_col, planes)))


# ---- Arrow-vectorized index math ------------------------------------

_CHUNK = 4096  # rows per numpy slab: bounds (rows, cells, dim) temporaries


def _vec_mat(s: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, dim) float64 matrix + validity mask from an Arrow list
    column. float32 -> float64 widening is exact, so downstream
    arithmetic matches the SQL ``cast(x as double)`` path bit-for-bit.

    Null or wrong-length vectors get a zero row and valid=False —
    callers emit SQL NULL for those rows, matching the null-propagating
    interpreted expression forms these UDFs replace (a single bad row
    must degrade, not kill the task)."""
    vals = s.values
    try:  # fast path: every row present and well-shaped
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vals])
        if mat.ndim == 2 and mat.shape[1] == dim:
            return mat, np.ones(len(vals), dtype=bool)
    except (ValueError, TypeError):
        pass
    mat = np.zeros((len(vals), dim), dtype=np.float64)
    valid = np.zeros(len(vals), dtype=bool)
    for i, v in enumerate(vals):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape == (dim,):
            mat[i] = a
            valid[i] = True
    return mat, valid


def _seq_dots(vecs: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """(n_rows, n_mat) dot products with SEQUENTIAL left-to-right IEEE
    summation (cumsum prefix), matching the Catalyst ``aggregate``
    fold and DuckDB's ``list_reduce`` rounding exactly — np.dot/matmul
    use pairwise/BLAS order and could flip argmax/sign ties."""
    prods = vecs[:, None, :] * mat[None, :, :]
    return np.cumsum(prods, axis=2)[:, :, -1]


def cell_assign_udf(centroids: list[list[float]]):
    """pandas_udf: vector column -> nearest-centroid cell id (argmax
    of dot, first index wins ties — np.argmax semantics == SQL
    array_position-of-max semantics)."""
    C = np.array(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def assign(s: pd.Series) -> pd.Series:
        out = np.empty(len(s), dtype=np.int32)
        ok = np.empty(len(s), dtype=bool)
        for lo in range(0, len(s), _CHUNK):
            chunk = s.iloc[lo : lo + _CHUNK]
            mat, valid = _vec_mat(chunk, C.shape[1])
            out[lo : lo + len(chunk)] = np.argmax(_seq_dots(mat, C), axis=1)
            ok[lo : lo + len(chunk)] = valid
        res = pd.array(out, dtype="Int32")
        res[~ok] = pd.NA
        return pd.Series(res)

    return assign


def probe_cells_udf(centroids: list[list[float]], n_probe: int):
    """pandas_udf: vector column -> the n_probe best cells by centroid
    dot product (desc), index asc on ties (stable argsort)."""
    C = np.array(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(s: pd.Series) -> pd.Series:
        out: list[list[int] | None] = []
        for lo in range(0, len(s), _CHUNK):
            chunk = s.iloc[lo : lo + _CHUNK]
            mat, valid = _vec_mat(chunk, C.shape[1])
            dots = _seq_dots(mat, C)
            idx = np.argsort(-dots, axis=1, kind="stable")[:, :n_probe]
            out.extend(
                row.tolist() if v else None
                for row, v in zip(idx.astype(np.int32), valid)
            )
        return pd.Series(out)

    return probes


def bucket_udf(planes: list[list[float]]):
    """pandas_udf: vector column -> LSH sign-bit bucket id (bit i set
    when dot(v, plane_i) >= 0 — same comparison as bucket_expr)."""
    Pm = np.array(planes, dtype=np.float64)
    pow2 = (1 << np.arange(len(planes), dtype=np.int64))[None, :]

    @F.pandas_udf(T.IntegerType())
    def bucket(s: pd.Series) -> pd.Series:
        out = np.empty(len(s), dtype=np.int64)
        ok = np.empty(len(s), dtype=bool)
        for lo in range(0, len(s), _CHUNK):
            chunk = s.iloc[lo : lo + _CHUNK]
            mat, valid = _vec_mat(chunk, Pm.shape[1])
            bits = _seq_dots(mat, Pm) >= 0
            out[lo : lo + len(chunk)] = (bits * pow2).sum(axis=1)
            ok[lo : lo + len(chunk)] = valid
        res = pd.array(out.astype(np.int32), dtype="Int32")
        res[~ok] = pd.NA
        return pd.Series(res)

    return bucket


def ivf_centroids(
    data: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    kmeans_rounds: int = 0,
    sample: int = 4096,
) -> list[list[float]]:
    """Deterministic centroids for the IVF index.

    Default (kmeans_rounds=0): the n_cells lowest-id vectors,
    L2-normalized — fully reproducible and oracle-checkable.

    kmeans_rounds>0 refines the seeds with spherical k-means (Lloyd)
    over a deterministic lowest-id ``sample`` of the corpus, driver-
    side numpy: assign to argmax-dot centroid, new centroid = mean of
    assigned, re-normalized; empty cells keep their previous centroid.
    Deterministic (fixed sample, fixed seeds, fixed iteration order) —
    pass the result via ``centroids=`` so Spark and any oracle agree.
    The at-scale shape: the sample fits the driver, training cost is
    O(rounds * sample * n_cells), and the trained centroids broadcast
    as literals exactly like the seeds."""
    import math

    rows = (
        data.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    )
    cents = []
    for r in rows:
        v = [float(x) for x in r[vec_col]]
        # math.sqrt (correctly-rounded IEEE sqrt) — bit-identical to
        # the oracle's SQL sqrt over the same sequential sum
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / n for x in v])
    if kmeans_rounds <= 0:
        return cents

    srows = data.select(vec_col).orderBy(id_col).limit(sample).collect()
    X = np.array([[float(x) for x in r[vec_col]] for r in srows], dtype=np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    norms[norms == 0.0] = 1.0
    Xn = X / norms[:, None]
    C = np.array(cents, dtype=np.float64)
    for _ in range(kmeans_rounds):
        assign = np.argmax(Xn @ C.T, axis=1)
        for c in range(len(C)):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nm = np.sqrt((m * m).sum())
                if nm > 0:
                    C[c] = m / nm
    return [row.tolist() for row in C]


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: vectors partition into nearest-centroid
    cells; each query probes its ``n_probe`` closest cells only.

    The 100 TB shape: build the centroid set once (tiny, broadcast as
    literals), write the data table partitioned by cell, and each
    query reads ~n_probe/n_cells of the corpus. Candidate fan-in is
    an equi-join on cell — no crossJoin.
    """
    cents = centroids or ivf_centroids(data, n_cells, vec_col, id_col)

    d = data.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("dv"),
        cell_assign_udf(cents)(F.col(vec_col)).alias("cell"),
    )
    # query probes: the n_probe best cells by centroid dot product
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_cells_udf(cents, n_probe)(F.col(vec_col))).alias("cell"),
    )
    scored = d.join(F.broadcast(q), "cell").select(
        "query_id",
        "neighbor_id",
        F.expr(f"round({cosine_expr('qv', 'dv')}, 6)").alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


QUANT_EPS = "1e-30"  # zero-vector guard for the scale divisor


def quantize_expr(vec_col: str) -> tuple[str, str]:
    """(q, n2): symmetric int8 scalar quantization of a float vector.

    q_i = round(v_i * 127 / max|v|) in [-127, 127]; n2 = sum q_i^2.
    All-integer downstream math (dot products, norms) is EXACT, so the
    quantized cosine needs no float-summation-order care at all — the
    only doubles are the final divide/sqrt/round.

    Catalyst-expression form: quantization happens once at index-build
    time (persist/write the quantized table); at 100 TB fold it into
    the same Arrow pass as the other index math if profiling demands.
    """
    ma = (
        f"greatest(array_max(transform({vec_col},"
        f" x -> abs(cast(x as double)))), {QUANT_EPS})"
    )
    q = (
        f"transform({vec_col}, x -> cast(round(cast(x as double) * 127.0"
        f" / {ma}) as bigint))"
    )
    n2 = "aggregate({q}, cast(0 as bigint), (acc, x) -> acc + x*x)"
    return q, n2


def duck_quantize_expr(vec_col: str) -> tuple[str, str]:
    """DuckDB rendering of quantize_expr (identical rounding: both
    engines round half away from zero for doubles)."""
    ma = (
        f"greatest(list_max(list_transform({vec_col},"
        f" x -> abs(cast(x as double)))), {QUANT_EPS})"
    )
    q = (
        f"list_transform({vec_col}, x -> cast(round(cast(x as double) * 127.0"
        f" / {ma}) as bigint))"
    )
    n2 = "list_reduce(list_prepend(0::bigint, list_transform({q}, x -> x*x)), (acc, x) -> acc + x)"
    return q, n2


def quantized_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = 10_000,
    force: bool = False,
) -> DataFrame:
    """Exact top-k under int8-quantized cosine: (query_id, rank,
    neighbor_id, qcos).

    The scan reads 1/4 the bytes of the float index and the pair
    scoring is exact integer arithmetic (the per-vector scale cancels
    out of the cosine). Same broadcast/crossJoin shape (and the same
    ``max_queries``/``force`` guard) as cosine_topk — swap in the
    LSH/IVF candidate generation for the pruned form.
    """
    from fluent_bit_spark.textprep.dedup import guard_quadratic

    guard_quadratic(
        queries, "quantized_topk (query side)", "ivf_topk/lsh_topk",
        max_queries, force,
    )
    q_expr, n2_t = quantize_expr(vec_col)
    qn2 = n2_t.format(q="q")

    def prep(df: DataFrame, idc: str, ida: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(ida), F.expr(q_expr).alias("q")
        ).select(ida, F.col("q").alias(f"{ida}_q"), F.expr(qn2).alias(f"{ida}_n2"))

    d = prep(data, id_col, "neighbor_id")
    qd = prep(queries, id_col, "query_id")
    dot = (
        "aggregate(zip_with(neighbor_id_q, query_id_q, (x, y) -> x*y),"
        " cast(0 as bigint), (acc, z) -> acc + z)"
    )
    scored = d.crossJoin(F.broadcast(qd)).select(
        "query_id",
        "neighbor_id",
        F.expr(
            f"round(cast(({dot}) as double) /"
            " nullif(sqrt(cast(neighbor_id_n2 as double)"
            " * cast(query_id_n2 as double)), 0.0), 6)"
        ).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "qcos")
    )


def cluster_card(
    data: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Corpus bucketing card: every vector assigned to its nearest
    centroid (the topic/domain-bucketing pass of a training-data
    pipeline), with per-cell integer-safe stats.

    Output: (cell, n_vectors, min_vec_id, sum_norm_micros) — the norm
    sum is fixed-pointed to micros per vector before the int64 sum, so
    cluster sizes and stats are bit-stable across executor counts and
    match the SQL oracle exactly. Assignment is the Arrow path
    (cell_assign_udf); the per-vector norm is the sequential-fold SQL
    expression (same fold as the oracle)."""
    cents = centroids or ivf_centroids(data, n_cells, vec_col, id_col)
    norm = f"sqrt({_NORM2.format(v=vec_col)})"
    d = data.select(
        F.col(id_col),
        cell_assign_udf(cents)(F.col(vec_col)).alias("cell"),
        F.expr(f"cast(round(({norm}) * 1e6) as bigint)").alias("norm_micros"),
    )
    return d.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(id_col).alias("min_vec_id"),
        F.sum("norm_micros").alias("sum_norm_micros"),
    )


def semdedup(
    data: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    dim: int | None = None,
    max_cell: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest centroid
    cell, compute exact pairwise cosine ONLY within a cell, and drop
    the higher-id member of every pair at/above ``threshold`` (a
    deterministic stand-in for the paper's keep-one-per-group rule).

    Output: (``id_col``, cell, kept) — one row per input vector.
    Vectors that are NULL or not ``dim``-long get a NULL cell and are
    kept (never compared), mirroring cluster_card's ok-guard.

    Scale shape: the quadratic work is confined to one cell — at
    corpus scale pick n_cells ~ N/50k so cells stay bounded (the
    paper uses k = tens of thousands for billions of docs), and the
    ``max_cell`` guard skips (keeps) any degenerate cell rather than
    expanding it quadratically inside one task. One shuffle on the
    cell id; the per-pair cosine is the SAME Arrow cumsum fold as
    embedding_neardup_lsh's verify (bit-identical to the SQL
    sequential fold), with only round(.,6) in Catalyst.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fluent_bit_spark import cache

    dim = _infer_dim(data, vec_col, dim)
    cents = centroids or ivf_centroids(data, n_cells, vec_col, id_col)
    s = cache.track(
        data.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            cell_assign_udf(cents)(F.col(vec_col)).alias("cell"),
        )
    )
    cell_ok = (
        s.groupBy("cell").count()
        .filter(F.col("count").between(2, max_cell))
        .select("cell")
    )
    a = s.join(cell_ok, "cell").select(
        "cell", F.col("id").alias("id_a"), F.col("v").alias("va")
    )
    b = s.join(cell_ok, "cell").select(
        "cell", F.col("id").alias("id_b"), F.col("v").alias("vb")
    )
    pairs = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    id_type = s.schema["id"].dataType.simpleString()

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            A, _ = _vec_mat(pdf["va"], dim)
            B, _ = _vec_mat(pdf["vb"], dim)
            dot = np.cumsum(A * B, axis=1)[:, -1]
            na = np.cumsum(A * A, axis=1)[:, -1]
            nb = np.cumsum(B * B, axis=1)[:, -1]
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0, 0.0, dot / np.sqrt(denom))
            yield pd.DataFrame({"id_b": pdf["id_b"], "cos": cos})

    dups = (
        pairs.select("id_b", "va", "vb")
        .mapInPandas(verify, schema=f"id_b {id_type}, cos double")
        .filter(F.expr("round(cos, 6)") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return s.join(dups, "id", "left").select(
        F.col("id").alias(id_col),
        "cell",
        F.col("_dup").isNull().alias("kept"),
    )


def lsh_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    data_bucket_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.

    At scale, bucket the data table ONCE (write partitioned/bucketed
    by the LSH bucket), then each query probes a single partition —
    the scan is pruned by ~2^n_planes. Pass ``data_bucket_col`` when
    ``data`` already carries that stored bucket (e.g. read back from
    the partitioned index): the probe then joins the PARTITION column
    directly, so the broadcast hash join's dynamic partition pruning
    skips every unprobed bucket's files — recomputing the bucket with
    the UDF would defeat the pruning and rescan the whole index
    (tests/test_rag_index.py proves the pruned plan both ways).
    """
    dim = _infer_dim(data, vec_col, dim)
    b = bucket_udf(hyperplanes(dim, n_planes))
    # norms hoisted per row (not per candidate pair) — same reasoning
    # and same bit-identical arithmetic as cosine_topk
    d = data.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("dv"),
        F.expr(_NORM2.format(v=vec_col)).alias("_dn"),
        (
            F.col(data_bucket_col).cast("int")
            if data_bucket_col is not None
            else b(F.col(vec_col))
        ).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.expr(_NORM2.format(v=vec_col)).alias("_qn"),
        b(F.col(vec_col)).alias("bucket"),
    )
    dot = _DOT.format(a="qv", b="dv")
    scored = d.join(F.broadcast(q), "bucket").select(
        "query_id",
        "neighbor_id",
        F.expr(
            "round(CASE WHEN _qn * _dn = 0 THEN cast(0 as double) "
            f"ELSE ({dot}) / sqrt(_qn * _dn) END, 6)"
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )
