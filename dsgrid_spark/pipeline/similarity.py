"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline — crossJoin pruned by a
  broadcast of the (small) query set, dot products via zip_with/aggregate
  in the JVM, top-k via ranking window;
- LSH-bucketed variant (random hyperplanes): the scale path — candidates
  only from matching buckets, then exact re-rank. At 100 TB the bucket
  join shuffles (bucket_id, vec_id) pairs, never the vectors twice.
- IVF-style variant: partition by nearest centroid (centroids broadcast),
  probe the closest n_probe centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType

from dsgrid_spark.filesystem import filesystem_for
from dsgrid_spark.session import one_slice_df as _osdf

from dsgrid_spark.pipeline import indexlog


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def normalize_embeddings(df: DataFrame, vector_column: str = "embedding",
                         output_column: str | None = None) -> DataFrame:
    """L2-normalize each vector onto the unit sphere (cosine becomes a
    plain dot product downstream). JVM-side ``transform`` over the
    array — per-row, zero shuffle; all-zero vectors pass through
    unchanged rather than dividing by zero.
    """
    out = output_column or vector_column
    v = F.col(vector_column)
    n = norm(v)
    return df.withColumn(
        out, F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)
    )


def quantize_embeddings(df: DataFrame, vector_column: str = "embedding",
                        bits: int = 8, output_column: str = "qvec",
                        scale_column: str = "qscale") -> DataFrame:
    """Symmetric per-vector integer quantization: ``scale = max_abs /
    (2^(bits-1) - 1)``, ``q_i = round(x_i / scale)``.

    At 100 TB an int8 shortlist is a 4x memory/shuffle cut for ANN
    re-ranking; dequantize with ``q * scale``. Per-row array HOFs only
    (``array_max`` + ``transform``) — whole-stage codegen, no shuffle.
    """
    qmax = (1 << (bits - 1)) - 1
    v = F.col(vector_column)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(float(qmax))
    quantized = F.when(
        max_abs > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (
        df.withColumn(scale_column, scale)
        .withColumn(output_column, quantized)
    )


#: above this many literal ids, candidate lists ship as broadcast data
#: (semi-join) instead of an In() plan literal — same rationale as
#: LITERAL_CENTROID_BUDGET (Catalyst analysis superlinear in literals)
LITERAL_CANDIDATE_BUDGET = 10_000


def candidate_filter(df: DataFrame, candidates,
                     id_column: str = "id") -> DataFrame:
    """Restrict a scan to a caller-supplied candidate set — the
    FILTERED vector-search shape ("nearest neighbors among documents
    matching a metadata predicate"). Two physical forms:

    - a Python list/set of ids → an ``isin`` predicate, which pushes
      into the parquet scan (``PushedFilters: In(id, …)``) like the
      re-rank's shortlist read; right for bounded driver-known sets.
    - a DataFrame (its ``id_column``, or its single column) → a
      LEFT SEMI join, the distributed form for candidate sets that are
      themselves query results; Spark broadcasts it when small (AQE).

    Filter-THEN-top-k semantics: k survivors are the best among
    candidates, never fewer because non-candidates crowded a window.
    """
    if candidates is None:
        return df
    if isinstance(candidates, DataFrame):
        cols = candidates.columns
        if id_column in cols:
            key = id_column
        elif len(cols) == 1:
            key = cols[0]
        else:
            raise ValueError(
                f"candidates frame has no {id_column!r} column and is "
                f"not single-column ({cols}); name the id column "
                f"{id_column!r} or select it alone")
        return df.join(
            candidates.select(F.col(key).alias(id_column)).distinct(),
            id_column, "left_semi")
    # coerce toward the scanned column's type FIRST: an isin/semi-join
    # comparing int literals to a string id column (or vice versa)
    # silently matches nothing — the string-degrades-silently family
    # this module guards against elsewhere
    from pyspark.sql.types import StringType

    dtype = df.schema[id_column].dataType
    if isinstance(dtype, StringType):
        vals = [v if isinstance(v, str) else str(v) for v in candidates]
    else:
        vals = []
        for v in candidates:
            if isinstance(v, str):
                try:
                    v = int(v)
                except ValueError:
                    raise ValueError(
                        f"candidate id {v!r} does not match the index "
                        f"id column type {dtype.simpleString()}")
            vals.append(v)
    ids = sorted(set(vals))
    if not ids:
        raise ValueError("candidates is empty: no rows could ever "
                         "match (pass None for an unfiltered search)")
    if len(ids) > LITERAL_CANDIDATE_BUDGET:
        # a 1M-literal In() bloats the plan tree and its analysis the
        # same way inline centroids did (ROADMAP 8): ship big sets as
        # DATA — one broadcast semi-join — instead of plan literals
        ids_df = df.sparkSession.createDataFrame(
            [(i,) for i in ids], [id_column])
        return df.join(F.broadcast(ids_df), id_column, "left_semi")
    return df.filter(F.col(id_column).isin(ids))


def _matrix_row(spark, matrix: list[list[float]], col_name: str):
    """A float matrix as ONE broadcast DataFrame row of
    ``array<array<double>>`` — data, not plan literals. The shared
    escape hatch for every operator that consults a fixed small matrix
    per row (centroids, projection signs, LSH hyperplanes): above
    ``LITERAL_CENTROID_BUDGET`` inlined doubles, Catalyst analysis of
    the literal plan is superlinear in the literal count
    (tools/scale_centroid_assign.py) while a broadcast row is flat."""
    payload = [[float(x) for x in row] for row in matrix]
    return F.broadcast(_osdf(spark, 
        [(payload,)], f"{col_name}: array<array<double>>"))


def projection_signs(dim: int, out_dim: int, seed: str = "rp") -> list[list[float]]:
    """Deterministic ±1 sign matrix for random projection, derived from
    md5 so ANY engine (or auditor) can recompute the exact matrix from
    (seed, i, j) — the same reproducibility-over-PRNG policy as the
    sampling operators' hash buckets."""
    import hashlib

    def sign(i: int, j: int) -> float:
        h = hashlib.md5(f"{seed}:{i},{j}".encode()).hexdigest()
        return 1.0 if int(h[:2], 16) % 2 == 0 else -1.0

    return [[sign(i, j) for i in range(dim)] for j in range(out_dim)]


def random_projection(df: DataFrame, dim: int, out_dim: int,
                      vector_column: str = "embedding",
                      output_column: str = "projected",
                      seed: str = "rp",
                      strategy: str = "auto") -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: ``y_j = Σ_i x_i ·
    R[j][i]`` with R ∈ {±1}^(out_dim×dim) (Achlioptas 2003's database-
    friendly projection — beyond the reference, which has no embedding
    ops at all).

    The scale rationale: LSH/IVF costs grow with vector width, so at
    100 TB you project 1024-dim embeddings to 64 BEFORE bucketing —
    sign projections preserve pairwise distances within (1±ε) while
    cutting the shuffled bytes and the per-pair re-rank arithmetic by
    dim/out_dim. Per-row column expressions only — zero shuffle, no UDF.

    Like :func:`assign_nearest_centroid`, the sign matrix has two
    physical homes with bit-identical results (same per-element fold
    order): ``literal`` inlines out_dim×dim array literals (fine small;
    a 1536→64 projection is 98k literals — Catalyst-analysis
    superlinear), ``data`` ships the matrix as ONE broadcast row and
    projects via ``transform(sequence(...))``. ``auto`` switches to
    ``data`` above ``LITERAL_CENTROID_BUDGET`` doubles.
    """
    if strategy not in ("auto", "literal", "data"):
        raise ValueError(f"strategy must be auto|literal|data, got {strategy!r}")
    if strategy == "auto":
        strategy = "data" if dim * out_dim > LITERAL_CENTROID_BUDGET \
            else "literal"
    signs = projection_signs(dim, out_dim, seed)
    v = F.col(vector_column)
    if strategy == "literal":
        rows = [F.array(*[F.lit(s) for s in signs[j]])
                for j in range(out_dim)]
        proj = F.array(*[
            F.aggregate(
                F.zip_with(v, rows[j], lambda x, r: x * r),
                F.lit(0.0), lambda acc, x: acc + x,
            )
            for j in range(out_dim)
        ])
        return df.withColumn(output_column, proj)
    mat = _matrix_row(df.sparkSession, signs, "__rp_mat")
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.aggregate(
            F.zip_with(v, F.get(F.col("__rp_mat"), j), lambda x, r: x * r),
            F.lit(0.0), lambda acc, x: acc + x,
        ),
    )
    return (df.crossJoin(mat)
            .withColumn(output_column, proj)
            .drop("__rp_mat"))


def embedding_centroids(df: DataFrame, group_columns: list[str],
                        vector_column: str = "embedding") -> DataFrame:
    """Element-wise mean vector per group, long form
    ``(group..., pos, value)`` — cluster/class summaries for curriculum
    mixing and drift monitoring.

    posexplode fans each vector into (pos, element) rows; the groupBy
    gets map-side partial aggregation, so the shuffle carries only
    ``groups x dim`` partial sums regardless of corpus size. Reassemble
    with ``collect_centroid_arrays`` when an array form is needed.
    """
    exploded = df.select(
        *group_columns,
        F.posexplode(F.col(vector_column)).alias("pos", "__e"),
    )
    return (
        exploded.groupBy(*group_columns, "pos")
        .agg(F.avg("__e").alias("value"))
    )


def collect_centroid_arrays(centroids_long: DataFrame,
                            group_columns: list[str]) -> DataFrame:
    """Long form -> ``(group..., centroid array<double>)``."""
    return (
        centroids_long.groupBy(*group_columns)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "value"))).alias("__s"))
        .select(*group_columns,
                F.transform(F.col("__s"), lambda s: s["value"]).alias("centroid"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    query_id_column: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    queries: (query_id, embedding). The query set is broadcast; the
    corpus streams through once. Result: (query_id, vec_id, score), k
    rows per query.
    """
    q = queries.select(
        F.col(query_id_column),
        F.col(vector_column).alias("__qv"),
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        query_id_column,
        id_column,
        cosine(F.col(vector_column), F.col("__qv")).alias("score"),
    )
    w = Window.partitionBy(query_id_column).orderBy(
        F.desc("score"), F.col(id_column)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


#: sign bits packed per long — 62 (not 64) so the high->low fold
#: ``acc*2 + bit`` can never touch the sign bit (max 2^62−1), which
#: keeps the packing exact under ANSI arithmetic with no shift ops
BINARY_WORD_BITS = 62


def binary_quantize(df: DataFrame, vector_column: str = "embedding",
                    output_column: str = "bits") -> DataFrame:
    """1-bit sign quantization: each vector becomes
    ``ceil(dim/62)`` packed longs — element ``62·w + j > 0`` sets a
    bit of word ``w``. The most aggressive point on the library's
    quantization ladder (float64 → int8 ``quantize_embeddings`` →
    PQ codes → sign bits): ~1 bit per dimension (a ~62× payload cut
    vs float64), and Hamming distance between two packed vectors is
    exactly the count of sign disagreements — the standard
    binary-embedding recipe (bit-sliced candidate scan, exact re-rank
    behind it).

    Packing is one fold per word — ``aggregate(slice(v, ...), 0L,
    (acc, x) -> acc*2 + sign_bit(x))`` — pure column expressions, zero
    shuffle, no shift functions, engine-reproducible: the bit
    semantics are integer-exact, so cross-engine oracles can compare
    sign disagreements directly without packing.
    """
    v = F.col(vector_column)
    n = F.size(v)
    wb = BINARY_WORD_BITS
    words = F.ceil(n / F.lit(wb)).cast("int")
    packed = F.transform(
        F.sequence(F.lit(0), words - 1),
        lambda w: F.aggregate(
            F.slice(v, w * wb + 1, wb),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(x > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        ),
    )
    # empty vectors pack to an EMPTY array — without the guard,
    # sequence(0, -1) yields the descending [0, -1] and two junk words
    bits = F.when(n > 0, packed).otherwise(
        F.array().cast("array<long>"))
    return df.withColumn(output_column, bits)


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two packed-bits arrays (from
    :func:`binary_quantize`): Σ bit_count(a[w] XOR b[w]) — whole-stage
    codegen bit arithmetic, the cheapest distance the library has."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def hamming_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 id_column: str = "vec_id",
                 vector_column: str = "embedding",
                 query_id_column: str = "query_id",
                 rerank: int | None = None) -> DataFrame:
    """Top-k nearest neighbors by SIGN-BIT Hamming distance — the
    binary-embedding scan: both sides quantize to packed longs
    (:func:`binary_quantize`), each candidate costs ceil(dim/62)
    XOR + popcount words instead of dim float multiplies, and the scan
    payload is ~1 bit per dimension. Returns (query_id, id, hamming)
    ascending, ties to the lowest id.

    ``rerank=N`` keeps an N-deep Hamming shortlist per query and
    re-ranks it by EXACT cosine against the original vectors (the
    standard two-phase binary recipe); the result is then
    (query_id, id, score) cosine-descending like brute_force_topk.

    Scale shape: the shortlist window sees ONLY (query_id, id, hamming)
    — the full float vectors never ride the shortlist exchange (on an
    engine without the InferWindowGroupLimit rule that exchange would
    otherwise carry n x Q vectors); the re-rank joins the Q x depth
    shortlist (broadcast — bounded by construction) back to the corpus
    for its vectors, the pq_search re-rank shape. Degenerate rows
    (null/empty embeddings) hash to a NULL Hamming distance and sort
    LAST, so they can never displace a real candidate.
    """
    qb = binary_quantize(
        queries.select(F.col(query_id_column),
                       F.col(vector_column).alias("__qv")),
        "__qv", "__qbits")
    cb = binary_quantize(
        corpus.select(F.col(id_column), F.col(vector_column)),
        vector_column, "__bits")
    scored = cb.crossJoin(F.broadcast(qb.select(query_id_column,
                                                "__qbits"))).select(
        query_id_column, id_column,
        hamming_distance(F.col("__bits"), F.col("__qbits"))
        .alias("hamming"))
    w = Window.partitionBy(query_id_column).orderBy(
        F.asc_nulls_last("hamming"), F.col(id_column))
    depth = k if rerank is None else max(k, rerank)
    short = (scored.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= depth).drop("__rn"))
    if rerank is None:
        return short.select(query_id_column, id_column, "hamming")
    cvec = corpus.select(F.col(id_column),
                         F.col(vector_column).alias("__cv"))
    qvec = queries.select(F.col(query_id_column),
                          F.col(vector_column).alias("__qv"))
    rescored = (cvec.join(F.broadcast(short.select(query_id_column,
                                                   id_column)), id_column)
                .join(F.broadcast(qvec), query_id_column)
                .select(query_id_column, id_column,
                        cosine(F.col("__cv"), F.col("__qv"))
                        .alias("score")))
    w2 = Window.partitionBy(query_id_column).orderBy(
        F.desc("score"), F.col(id_column))
    return (rescored.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= k).drop("__rn"))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _plane_strategy(strategy: str, n_doubles: int) -> str:
    if strategy not in ("auto", "literal", "data"):
        raise ValueError(f"strategy must be auto|literal|data, got {strategy!r}")
    if strategy == "auto":
        return "data" if n_doubles > LITERAL_CENTROID_BUDGET else "literal"
    return strategy


def add_lsh_bucket(df: DataFrame, dim: int, vector_column: str = "embedding",
                   n_planes: int = 8, seed: int = 7,
                   bucket_column: str = "bucket",
                   strategy: str = "auto") -> DataFrame:
    """Random-hyperplane signature → integer bucket id.

    Same hyperplanes (same seed) must be used for corpus and queries.
    Hyperplanes are plan literals below ``LITERAL_CENTROID_BUDGET``
    doubles and ONE broadcast data row above it (``strategy="auto"``;
    a 16-plane × 1536-dim signature is 25k literals otherwise — the
    measured Catalyst-analysis blowup). Bucket ids are bit-identical
    between strategies: per-plane dots share the same fold order and
    the bit sum is integer.
    """
    strategy = _plane_strategy(strategy, dim * n_planes)
    planes = _hyperplanes(dim, n_planes, seed)
    v = F.col(vector_column)
    if strategy == "literal":
        bucket = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            plane = F.array(*[F.lit(x) for x in p])
            bit = F.when(dot(v, plane) > 0,
                         F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0))
            bucket = bucket + bit
        return df.withColumn(bucket_column, bucket)
    mat = _matrix_row(df.sparkSession, planes, "__lsh_mat")
    bucket = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda i: F.when(
                dot(v, F.get(F.col("__lsh_mat"), i)) > 0,
                # call_function: the python shiftleft wrapper only takes
                # an int literal for numBits, not a Column
                F.call_function("shiftleft", F.lit(1).cast("long"),
                                i.cast("int"))
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    return (df.crossJoin(mat)
            .withColumn(bucket_column, bucket)
            .drop("__lsh_mat"))


def lsh_probe_buckets(df: DataFrame, dim: int,
                      vector_column: str = "embedding",
                      n_planes: int = 8, seed: int = 7,
                      n_probes: int = 1,
                      bucket_column: str = "bucket",
                      strategy: str = "auto") -> DataFrame:
    """Multi-probe bucket expansion: one row per (input row, probe).

    Probe 0 is the row's own bucket; probes 1..n_probes-1 flip the sign
    bit of the hyperplane with the next-smallest |margin| (the classic
    multi-probe LSH heuristic: a vector near a hyperplane most likely
    lost its true neighbors across THAT plane). Pure column expressions —
    the margin ranking is an array_sort over (|dot|, plane index) structs,
    no UDF, no shuffle; rows fan out n_probes x, which on the query side
    of an ANN join is a handful of extra broadcast rows.
    """
    strategy = _plane_strategy(strategy, dim * n_planes)
    planes = _hyperplanes(dim, n_planes, seed)
    if strategy == "literal":
        margins = F.array(*[
            F.struct(
                F.abs(dot(F.col(vector_column),
                          F.array(*[F.lit(x) for x in p]))).alias("m"),
                F.lit(i).alias("i"),
            )
            for i, p in enumerate(planes)
        ])
    else:
        # same planes as ONE broadcast row (the add_lsh_bucket data
        # path reuses the identical __lsh_mat column name downstream,
        # so alias this one)
        margins = F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda i: F.struct(
                F.abs(dot(F.col(vector_column),
                          F.get(F.col("__probe_mat"), i))).alias("m"),
                i.cast("int").alias("i"),
            ),
        )
    flips = F.slice(
        F.transform(F.array_sort(margins), lambda s: s.i),
        1, max(n_probes - 1, 0))
    base = add_lsh_bucket(df, dim, vector_column, n_planes, seed,
                          bucket_column="__b0", strategy=strategy)
    if strategy == "data":
        base = base.crossJoin(
            _matrix_row(df.sparkSession, planes, "__probe_mat"))
    probes = F.concat(
        F.array(F.col("__b0")),
        F.transform(flips, lambda i: F.col("__b0").bitwiseXOR(
            F.call_function("shiftleft", F.lit(1).cast("long"),
                            i.cast("int")))),
    )
    # __probe_mat only exists on the data path; dropping a missing
    # column is a no-op
    return (base.withColumn(bucket_column, F.explode(probes))
            .drop("__b0", "__probe_mat"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    query_id_column: str = "query_id",
    seed: int = 7,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: exact re-rank within matching LSH buckets only.

    ``n_probes > 1`` turns on multi-probe (see :func:`lsh_probe_buckets`):
    each query also searches the buckets across its lowest-margin
    hyperplanes, recovering neighbors that landed one sign bit away —
    recall rises without building more hash tables, and only the tiny
    broadcast query side fans out. The corpus is bucketed ONCE either way.
    """
    c = add_lsh_bucket(corpus, dim, vector_column, n_planes, seed)
    q = lsh_probe_buckets(queries, dim, vector_column, n_planes, seed,
                          n_probes).select(
        query_id_column, F.col(vector_column).alias("__qv"), "bucket"
    )
    # no per-(query, id) dedup needed (r12, guide §2.4): a corpus row
    # carries ONE bucket, and a query's probe buckets are pairwise
    # DISTINCT values by construction (b0 and b0 ^ (1 << i) for distinct
    # plane indices i from the margin sort), so each (query, corpus row)
    # can match through at most one probe. The dropDuplicates this path
    # used to run exchanged the ENTIRE scored candidate set on
    # (query_id, id) — a second full shuffle beyond the top-k window's —
    # to deduplicate rows that were never duplicated.
    scored = c.join(F.broadcast(q), "bucket")
    scored = scored.select(
        query_id_column, id_column,
        cosine(F.col(vector_column), F.col("__qv")).alias("score"),
    )
    w = Window.partitionBy(query_id_column).orderBy(F.desc("score"), F.col(id_column))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int | None = None,
    n_planes: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score >= threshold).

    Without blocking this is exact all-pairs — O(n²), for small corpora or
    candidate verification. With ``dim``/``n_planes`` set, pairs are blocked
    by LSH bucket first (the scale path: only same-bucket pairs are scored,
    so the shuffle carries (bucket, id, vector) once instead of n² rows;
    borderline pairs across buckets are missed — recall < 1).

    ``id_column`` values are assumed unique per row (the module-wide id
    contract): the ``id_a < id_b`` self-join then emits each unordered
    pair exactly once — ``add_lsh_bucket`` assigns ONE bucket per row, so
    blocking cannot re-pair ids either — and the result needs no
    ``distinct()``. (r12, guide §2.4 "a distinct on data that is already
    unique": the distinct this op used to end with re-shuffled the ENTIRE
    surviving pair set — at blocked-corpus scale a full exchange of the
    O(pairs) result — to deduplicate rows that were never duplicated.
    Duplicate input ids now surface as duplicate pairs instead of being
    silently collapsed, which the id contract treats as caller error.)
    """
    if n_planes is not None:
        df = add_lsh_bucket(df, dim, vector_column, n_planes, seed)
        join_keys = ["bucket"]
    else:
        join_keys = []
    a = df.select(
        *join_keys,
        F.col(id_column).alias("id_a"),
        F.col(vector_column).alias("__va"),
    )
    b = df.select(
        *join_keys,
        F.col(id_column).alias("id_b"),
        F.col(vector_column).alias("__vb"),
    )
    cond = F.col("id_a") < F.col("id_b")
    if join_keys:
        cond = cond & (a["bucket"] == b["bucket"])
        pairs = a.join(b, on=cond).drop("bucket")
    else:
        pairs = a.join(b, on=cond)
    return (
        pairs.withColumn("score", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def _kmeanspp_seeds(sample: list[list[float]], k: int, rnd,
                    weights: list[float] | None = None) -> list[list[float]]:
    """k-means++ (Arthur/Vassilvitskii SODA'07) D² seeding over the
    collected sample, with COSINE distance (1 − cos) to match the
    assignment metric. Driver-side numpy: each new seed costs one
    matrix-vector product over the pool — O(k · pool · dim) flops,
    bounded because the pool is already capped at max(20k, 200) rows.

    ``weights`` (the k-means‖ recluster step: each candidate weighted
    by its corpus attraction count) scales the D² sampling mass and the
    first draw; ``None`` keeps the historical unweighted behavior
    bit-for-bit (first seed via ``rnd.randrange``)."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    norms = np.sqrt((x * x).sum(axis=1))
    norms[norms == 0] = 1.0
    unit = x / norms[:, None]
    wts = (None if weights is None
           else np.maximum(np.asarray(weights, dtype=np.float64), 0.0))
    if wts is None:
        first = rnd.randrange(len(sample))
    else:
        total = float(wts.sum())
        if total <= 0:
            wts = np.ones(len(sample))
            total = float(len(sample))
        r = rnd.random() * total
        first = min(int(np.searchsorted(np.cumsum(wts), r)),
                    len(sample) - 1)
    picked = [first]
    d = 1.0 - unit @ unit[first]
    np.maximum(d, 0.0, out=d)
    for _ in range(1, min(k, len(sample))):
        w = d * d
        if wts is not None:
            w = w * wts
        total = float(w.sum())
        if total <= 0:  # every point coincides with a seed already
            remaining = [i for i in range(len(sample)) if i not in picked]
            if not remaining:
                break
            picked.append(remaining[rnd.randrange(len(remaining))])
            continue
        r = rnd.random() * total
        i = int(np.searchsorted(np.cumsum(w), r))
        i = min(i, len(sample) - 1)
        picked.append(i)
        d = np.minimum(d, np.maximum(1.0 - unit @ unit[i], 0.0))
    return [list(map(float, x[i])) for i in picked]


def _kmeans_parallel_seeds(fit_df: DataFrame, k: int, vector_column: str,
                           seed: int, rnd, oversample: int | None = None,
                           rounds: int = 5,
                           assign_strategy: str = "auto") -> list[list[float]]:
    """k-means‖ (Bahmani et al., VLDB 2012) seeding: DISTRIBUTED D²
    oversampling in O(rounds) corpus passes, then a driver-side
    weighted k-means++ recluster of the O(oversample · rounds)
    candidates.

    Why it exists: the pool-based inits (``sample``/``kmeanspp``) see
    only a max(20·k, 200)-row uniform sample — a cluster rarer than
    ~1/pool has no seed with high probability, and Lloyd iterations
    never recover it (no centroid moves toward an unseeded island). In
    each round here, every corpus row is a candidate with probability
    ∝ its squared cosine distance to the CURRENT candidate set — once
    the bulk is covered, the residual mass concentrates exactly on the
    unseeded islands, so a 5-member cluster in a 100k-row corpus is
    sampled with near-certainty by round 2–3 (the paper's argument:
    each round halves the remaining potential in expectation).

    Per round: ONE broadcast candidate table (the data-path idiom —
    candidates are data, not plan literals), one agg for the potential
    φ = Σd², one filter-collect of the newly sampled rows (expected
    ``oversample`` rows, default 2k — driver-bounded). The Bernoulli
    draw is CONTENT-HASHED over the WHOLE row plus (round, seed), not
    F.rand: identical candidate sets regardless of partitioning or
    cluster layout. Hashing all columns (not just the vector) matters
    on duplicate-heavy corpora: rows sharing a vector would otherwise
    draw identically — all or none per round — and a corpus of few
    distinct vectors could starve the sampler; any id column makes the
    draws row-independent. Final weights = corpus attraction counts per
    candidate (one assign + groupBy), fed to the weighted k-means++
    recluster. Cost: rounds + 1 corpus passes against the pool inits'
    zero — the price of covering clusters the pool provably misses.
    """
    import numpy as np  # noqa: F401  (parity with the pp seeder's deps)

    l = oversample or 2 * k
    # first center: deterministic content-hash argmin — no collect of a
    # pool, independent of partition layout
    v = F.col(vector_column)
    first = (fit_df.select(v.alias("__v"))
             .agg(F.min_by("__v", F.xxhash64(F.col("__v"))).alias("c"))
             .collect()[0]["c"])
    if first is None:
        raise ValueError("corpus is empty: k-means|| needs at least one "
                         "vector")
    centers: list[list[float]] = [[float(x) for x in first]]
    denom = float(1 << 30)
    row_cols = [F.col(c) for c in fit_df.columns]
    for rnd_i in range(rounds):
        u = (F.pmod(F.xxhash64(*row_cols, F.lit(rnd_i), F.lit(seed)),
                    F.lit(1 << 30)) / F.lit(denom))
        if assign_strategy == "arrow":
            # rehearsal/throwaway-fit path (ROADMAP 14): at high k the
            # candidate set reaches O(oversample · rounds) and the
            # per-row HOF cosine ladder is interpreted per element —
            # one numpy matmul per Arrow batch instead; sampling can
            # flip on last-ULP near-ties, fine for non-oracled fits
            frame = _max_cosine_arrow(
                fit_df.select(v.alias("__v"), u.alias("__u")),
                centers, "__v", "__best").withColumn(
                "__d2", F.pow(F.lit(1.0) - F.col("__best"), F.lit(2.0)))
        else:
            cent_one = (
                fit_df.sparkSession.createDataFrame(
                    [(c,) for c in centers], "__c array<double>")
                .agg(F.collect_list("__c").alias("__cands")))
            best = F.array_max(F.transform(F.col("__cands"),
                                           lambda c: cosine(v, c)))
            d2c = F.pow(F.lit(1.0) - best, F.lit(2.0))
            frame = (fit_df.crossJoin(F.broadcast(cent_one))
                     .select(v.alias("__v"), d2c.alias("__d2"),
                             u.alias("__u")))
        phi = frame.agg(F.sum("__d2")).collect()[0][0] or 0.0
        if phi <= 0:
            break  # every row coincides with a candidate
        new = (frame.filter(F.col("__u") * F.lit(float(phi))
                            < F.lit(float(l)) * F.col("__d2"))
               .select("__v").collect())
        # the sampled SET is layout-independent (content-hash draws)
        # but collect order is not — sort so the candidate list, and
        # everything downstream of it, is deterministic
        centers.extend(sorted([list(map(float, r["__v"])) for r in new]))
    # de-dup exact repeats (a row sampled in two rounds) — weights
    # would double-count its attraction otherwise
    seen, uniq_centers = set(), []
    for c in centers:
        key = tuple(c)
        if key not in seen:
            seen.add(key)
            uniq_centers.append(c)
    centers = uniq_centers
    if len(centers) <= k:
        return centers
    # weight candidates by corpus attraction and recluster driver-side
    counts = (assign_nearest_centroid(fit_df, centers, vector_column,
                                      strategy=assign_strategy)
              .groupBy("__cluster").count().collect())
    wmap = {r["__cluster"]: float(r["count"]) for r in counts}
    weights = [wmap.get(i, 0.0) for i in range(len(centers))]
    return _kmeanspp_seeds(centers, k, rnd, weights=weights)


def kmeans_centroids(df: DataFrame, n_clusters: int, dim: int,
                     vector_column: str = "embedding",
                     iterations: int = 5, seed: int = 11,
                     fit_sample_cap: int | None = None,
                     assign_strategy: str = "auto",
                     init: str = "sample") -> list[list[float]]:
    """Plain k-means via DataFrame aggregations (no MLlib dependency).

    ``assign_strategy`` flows to :func:`assign_nearest_centroid`; pass
    ``"arrow"`` for the numpy kernel when the fit need not be
    bit-reproducible against the JVM fold (rehearsals, throwaway fits —
    near-tied centroids can flip by a last-ULP rounding difference).

    Each iteration: assign to nearest centroid (broadcast), average per
    cluster (posexplode + groupBy — one shuffle of (cluster, pos, val)).

    ``fit_sample_cap`` bounds what the FIT iterates over: when the
    corpus exceeds the cap, centroids are fitted on a deterministic
    content-hash sample (``pmod(xxhash64(vector), ceil(n/cap)) == 0``,
    so the subset is independent of partitioning and run order),
    materialized once — every k-means iteration then costs O(cap)
    assignment work instead of a full corpus pass, which is what makes
    high-k fits (SemDeDup's derived k at production dims) affordable.
    Quality trade: centroids are a k-means solution of a uniform-ish
    sample, not the full corpus — for assignment/quantization workloads
    the mean cosine-to-centroid is within sampling noise of the full
    fit (tested; the standard sketched-k-means argument, e.g.
    Bachem et al., NeurIPS 2018 on uniform coresets for stable
    clusterings). Callers that need the exact full-corpus fixed point
    (driver-oracled paths) leave it None.

    ``init``: ``sample`` (default — uniform draw from the seed pool,
    the historical behavior every oracled path pins), ``kmeanspp``
    (opt-in D² seeding over the same pool, cosine metric): rare-but-
    distinct clusters that uniform sampling misses get a seed with
    near-certainty, at O(k · pool · dim) driver numpy cost — but still
    bounded by what the max(20·k, 200)-row POOL contains; or
    ``parallel`` (k-means‖, Bahmani VLDB'12): distributed D²
    oversampling over the WHOLE fit corpus in O(log k)-ish passes, then
    a driver-side weighted k-means++ recluster of the O(k) candidates —
    the init for clusters rarer than ~1/pool, which no pool-based
    seeding can see (see :func:`_kmeans_parallel_seeds`); or ``auto``:
    ``parallel`` exactly when its extra passes can pay off — the fit
    corpus is big enough that ``fit_sample_cap`` binds (the high-k
    production regime, where the pool is a sample OF a sample) AND k
    exceeds the pool floor/20 (= 10: below that the 200-row floor
    gives ≥20 pool draws per cluster even for clusters at uniform
    share, and SCALE_R9 §4 measured all three inits tying) — else the
    cheap ``sample``. ``auto`` is never the default: oracled paths
    pin ``sample``.
    """
    import math
    import random

    rnd = random.Random(seed)
    total = df.count()
    fit_df = df
    cap_binds = fit_sample_cap is not None and total > fit_sample_cap
    if cap_binds:
        denom = math.ceil(total / fit_sample_cap)
        fit_df = (df.filter(
            F.pmod(F.xxhash64(F.col(vector_column)), F.lit(denom)) == 0)
            .localCheckpoint())  # ONE corpus pass; iterations reread this
        total = fit_df.count()
    if init == "auto":
        init = "parallel" if cap_binds and n_clusters > 10 else "sample"
    # seed pool via a seeded Bernoulli sample across ALL partitions —
    # limit() without ordering takes whichever partition answers first,
    # which on sorted/clustered data yields unrepresentative seeds
    n_pool = max(n_clusters * 20, 200)
    fraction = min(1.0, (n_pool * 2.0) / max(total, 1))
    pool = fit_df.select(vector_column).sample(fraction=fraction, seed=seed)
    sample = [list(r[vector_column]) for r in pool.limit(n_pool).collect()]
    if len(sample) < n_clusters:  # tiny corpus: fall back to everything
        sample = [list(r[vector_column])
                  for r in fit_df.select(vector_column).limit(n_pool).collect()]
    if init == "kmeanspp":
        centroids = _kmeanspp_seeds(sample, n_clusters, rnd)
    elif init == "sample":
        centroids = rnd.sample(sample, min(n_clusters, len(sample)))
    elif init == "parallel":
        # k-means|| — DISTRIBUTED D² oversampling: seed quality no
        # longer bounded by the driver pool, at rounds+1 extra corpus
        # passes (see _kmeans_parallel_seeds)
        centroids = _kmeans_parallel_seeds(fit_df, n_clusters,
                                           vector_column, seed, rnd,
                                           assign_strategy=assign_strategy)
    else:
        raise ValueError(f"init must be sample|kmeanspp|parallel|auto, "
                         f"got {init!r}")
    for _ in range(iterations):
        assigned = assign_nearest_centroid(fit_df, centroids, vector_column,
                                           strategy=assign_strategy)
        means = (
            assigned.select("__cluster",
                            F.posexplode(F.col(vector_column)).alias("pos", "v"))
            .groupBy("__cluster", "pos").agg(F.avg("v").alias("m"))
            .groupBy("__cluster")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))).alias("pairs"))
            .select("__cluster", F.transform("pairs", lambda s: s["m"]).alias("c"))
            .collect()
        )
        got = {r["__cluster"]: list(r["c"]) for r in means}
        centroids = [got.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


# Above this many inlined doubles the centroid matrix switches from plan
# literals to broadcast DATA (see assign_nearest_centroid). Measured
# (tools/scale_centroid_assign.py, 2k rows x dim=512/64): Catalyst
# analysis of the literal plan is 1.6 s at 2k literals, 5.4 s at 8k,
# 20.5 s at 32k, 304 s at 512k, while the data path stays 0.1-0.5 s flat
# in k with equal-or-better runtime. Literal's only edge is avoiding a
# ~0.3 s driver-side centroid-table build on tiny codebooks.
LITERAL_CENTROID_BUDGET = 2048


def _sql_score(vc: str, centroid, assume_normalized: bool) -> str:
    """The SQL-string twin of ``dot(col, lit-array)`` /
    ``cosine(col, lit-array)`` — same functions, same fold order, same
    literal doubles (``CAST('<repr>' AS DOUBLE)`` round-trips every
    finite double exactly through Double.parseDouble), so the analyzed
    expression is identical to the Column-API build."""
    arr = "array(%s)" % ", ".join(
        f"CAST('{float(x)!r}' AS DOUBLE)" for x in centroid)
    d = (f"aggregate(zip_with({vc}, {arr}, (x, y) -> x * y), "
         f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    if assume_normalized:
        return d

    def nrm(a):
        return (f"sqrt(aggregate(transform({a}, x -> x * x), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")

    dn = f"({nrm(vc)} * {nrm(arr)})"
    return (f"CASE WHEN {dn} > 0 THEN ({d} / {dn}) "
            f"ELSE CAST(0.0 AS DOUBLE) END")


def assign_nearest_centroid(df: DataFrame, centroids: list[list[float]],
                            vector_column: str = "embedding",
                            assume_normalized: bool = False,
                            strategy: str = "auto") -> DataFrame:
    """Nearest centroid by cosine; ties break to the lowest cluster index.

    Two physical strategies, identical results (same fold order, so the
    doubles are bit-identical — tested):

    - ``literal`` — the k cosine folds land in ONE array column built
      from literal centroid arrays and the argmax is
      ``array_position(scores, array_max(scores))``. Zero joins, but the
      centroid matrix is inlined into the PLAN: O(k*dim) Literal nodes
      that Catalyst re-analyzes on every downstream job. Fine for small
      codebooks; at SemDeDup's derived k=4096 with 768-dim production
      embeddings that is ~3M expression nodes — an analysis-time
      scale-killer, not a row-work one.
    - ``data`` — the centroid matrix is DATA, not plan: the (cluster,
      centroid) table collapses to a single row holding
      ``array<struct<cluster,centroid>>``, broadcast-cross-joined onto
      the corpus (1-row build side), and the argmax is one
      ``array_max(transform(...))`` over (score, -cluster) structs.
      Plan size O(1) in k, zero shuffle, zero join-back, JVM HOFs
      end-to-end; per-row arithmetic identical to the literal path. The
      broadcast payload is k*dim doubles (k=4096 x dim=1024 = 32 MB)
      shipped once per executor instead of once per task deserialization
      of the plan.

    ``strategy="auto"`` (default) picks ``data`` when k*dim exceeds
    ``LITERAL_CENTROID_BUDGET``. All consumers (kmeans_centroids,
    semantic_dedup, ivf_* build/append) inherit auto.

    ``assume_normalized=True`` replaces each cosine with a plain dot —
    valid ONLY when the caller guarantees unit-norm rows AND centroids;
    it cuts the per-centroid fold count 3x (no norm recomputation).

    A third, OPT-IN strategy ``arrow`` runs the argmax as a numpy
    `mapInPandas` matmul kernel (ROADMAP 14: the JVM HOF fold is
    interpreted per element — the sf10 PQ rehearsal measured the k=64
    corpus assignment at ~60 s where the kernel is ~2 s). It is never
    auto-selected: numpy's summation order differs from the JVM fold
    by last-ULP rounding, so near-tied centroids can flip — fine for
    fits and rehearsals, not for bit-exact oracled paths. Exact ties
    break to the lowest index on every strategy.
    """
    if strategy not in ("auto", "literal", "data", "arrow"):
        raise ValueError(
            f"strategy must be auto|literal|data|arrow, got {strategy!r}")
    if strategy == "arrow":
        return _assign_arrow(df, centroids, vector_column,
                             assume_normalized)
    if not centroids:
        raise ValueError("centroids must be non-empty")
    if strategy == "auto":
        strategy = ("data" if len(centroids) * len(centroids[0])
                    > LITERAL_CENTROID_BUDGET else "literal")
    score_of = dot if assume_normalized else cosine
    if strategy == "literal":
        # ONE parsed SQL expression instead of ~45 py4j round trips per
        # centroid (r12, guide §1.2 driver-side cost): building the
        # k-wide fold ladder through the Column API measured 1.3 s of
        # pure expression construction at k=16, dim=32 — the JVM parses
        # the equivalent string in milliseconds. The string mirrors
        # dot()/cosine() token for token (same fold order, same
        # duplicated subtrees where the Column API reuses a Column
        # object), so the analyzed plan and every double are identical
        # (pinned by test_assign_literal_sql_matches_column_api).
        vc = f"`{vector_column}`"
        folds = [_sql_score(vc, c, assume_normalized) for c in centroids]
        scores_sql = "array(%s)" % ", ".join(folds)
        cluster = F.expr(
            f"CAST(array_position({scores_sql}, "
            f"array_max({scores_sql})) - 1 AS INT)")
        return df.withColumn("__cluster", cluster)
    spark = df.sparkSession
    cent_one = (
        _osdf(spark, 
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cluster int, centroid array<double>")
        .agg(F.array_sort(
            F.collect_list(F.struct("cluster", "centroid"))).alias("__cents"))
    )
    v = F.col(vector_column)
    # max of (score, -cluster) structs = highest score, tie -> lowest
    # cluster — same tie-break as array_position-of-first-max above
    best = F.array_max(F.transform(
        F.col("__cents"),
        lambda c: F.struct(score_of(v, c["centroid"]).alias("s"),
                           (-c["cluster"]).alias("nc")),
    ))
    return (
        df.crossJoin(F.broadcast(cent_one))
        .withColumn("__cluster", (-best["nc"]).cast("int"))
        .drop("__cents")
    )


def _max_cosine_arrow(df: DataFrame, centers: list[list[float]],
                      vector_column: str, out_col: str) -> DataFrame:
    """Append the max cosine of each row's vector against ``centers``
    — the numpy twin of ``array_max(transform(cands, cos))``, one
    ``X @ Cᵀ`` per Arrow batch. The k-means‖ round kernel at high k
    (opt-in via assign_strategy='arrow'; last-ULP rounding vs the JVM
    fold, same caveat as :func:`_assign_arrow`)."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    cm = np.asarray([[float(x) for x in c] for c in centers],
                    dtype=np.float64)                      # (k, dim)
    cn = np.sqrt((cm * cm).sum(axis=1))
    out_schema = StructType(
        list(df.schema) + [StructField(out_col, DoubleType())])

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{out_col: []})
                continue
            x = np.asarray([np.asarray(r, dtype=np.float64)
                            for r in pdf[vector_column]])
            scores = x @ cm.T
            xn = np.sqrt((x * x).sum(axis=1))
            den = xn[:, None] * cn[None, :]
            scores = np.divide(scores, den, out=np.zeros_like(scores),
                               where=den > 0)
            yield pdf.assign(**{out_col: scores.max(axis=1)})

    return df.mapInPandas(kern, out_schema)


def _assign_arrow(df: DataFrame, centroids: list[list[float]],
                  vector_column: str, assume_normalized: bool) -> DataFrame:
    """The numpy argmax kernel behind ``strategy="arrow"``: one
    ``X @ Cᵀ`` per Arrow batch (cosine = dot over norms unless
    ``assume_normalized``), first-max argmax (ties -> lowest index,
    matching the JVM strategies). All input columns pass through; the
    centroid matrix ships per task via closure."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cm = np.asarray([[float(x) for x in c] for c in centroids],
                    dtype=np.float64)                      # (k, dim)
    cn = np.sqrt((cm * cm).sum(axis=1))                    # (k,)
    out_schema = StructType(
        list(df.schema) + [StructField("__cluster", IntegerType())])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(__cluster=[])
                continue
            x = np.asarray(
                [np.asarray(r, dtype=np.float64)
                 for r in pdf[vector_column]])
            scores = x @ cm.T                              # (n, k)
            if not assume_normalized:
                xn = np.sqrt((x * x).sum(axis=1))          # (n,)
                denom = xn[:, None] * cn[None, :]
                # zero-norm row or centroid -> cosine 0.0, the same
                # convention as the JVM `cosine` helper
                scores = np.divide(scores, denom,
                                   out=np.zeros_like(scores),
                                   where=denom > 0)
            yield pdf.assign(
                __cluster=np.argmax(scores, axis=1).astype(np.int32))

    return df.mapInPandas(assign, out_schema)


def rank_probes(centroids: list[list[float]], query_vector,
                n_probe: int) -> list[int]:
    """Driver-side coarse-list ranking shared by every IVF-family
    search (ivf_topk, ivf_search, IVF-PQ, persisted-PQ search): cosine
    of the query against the tiny centroid table, descending, ties to
    the LOWER cluster index (deterministic — a dict-order sort would
    let probe sets flip between runs on exact ties), zero norms -> 0.0
    (the `cosine` column helper's convention). Returns the n_probe
    best centroid indices."""
    import math

    qv = [float(x) for x in query_vector]
    qn = math.sqrt(sum(x * x for x in qv))

    def cos(c):
        d = qn * math.sqrt(sum(x * x for x in c))
        return sum(x * y for x, y in zip(qv, c)) / d if d else 0.0

    return sorted(range(len(centroids)),
                  key=lambda i: (-cos(centroids[i]), i))[:n_probe]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    query_id_column: str = "query_id",
) -> DataFrame:
    """IVF search: corpus partitioned by nearest centroid; each query
    probes its n_probe closest centroids and re-ranks exactly."""
    c = assign_nearest_centroid(corpus, centroids, vector_column)
    q = queries
    probe_rows = []
    for r in q.collect():  # query set is small by construction
        qv = list(r[vector_column])
        for ci in rank_probes(centroids, qv, n_probe):
            probe_rows.append((r[query_id_column], ci, qv))
    spark = corpus.sparkSession
    qdf = _osdf(spark, 
        probe_rows, f"{query_id_column} long, __cluster int, __qv array<double>"
    )
    scored = c.join(F.broadcast(qdf), "__cluster").select(
        query_id_column, id_column,
        cosine(F.col(vector_column), F.col("__qv")).alias("score"),
    )
    w = Window.partitionBy(query_id_column).orderBy(F.desc("score"), F.col(id_column))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def probe_clusters_df(queries: DataFrame, centroids: list[list[float]],
                      n_probe: int,
                      query_id_column: str = "query_id",
                      vector_column: str = "embedding",
                      keep: tuple[str, ...] = ()) -> DataFrame:
    """(query_id, cluster[, keep...]) — each query's top-``n_probe``
    coarse lists, the DISTRIBUTED twin of :func:`rank_probes` for
    DataFrame query sets: one broadcast join against the tiny centroid
    table, cosine descending, ties to the LOWER cluster index, zero
    norms -> 0.0 (the ``cosine`` helper's convention throughout).
    ``keep`` carries extra query columns through (packed bits, the
    vector itself) so downstream joins need no second pass over the
    query set. Last-ULP note: the ranking runs JVM-side; a query
    exactly equidistant from two lists may probe a different (equally
    near) list than the driver-side ranking would."""
    spark = queries.sparkSession
    cent = F.broadcast(_osdf(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, __cent array<double>"))
    scored = (queries.crossJoin(cent)
              .select(query_id_column, "cluster", *keep,
                      cosine(F.col(vector_column),
                             F.col("__cent")).alias("__pscore")))
    w = Window.partitionBy(query_id_column).orderBy(
        F.desc("__pscore"), F.asc("cluster"))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_probe)
            .drop("__rn", "__pscore"))


def prune_to_probed_clusters(payload: DataFrame, probes: DataFrame,
                             n_clusters: int
                             ) -> tuple[DataFrame, DataFrame]:
    """ADAPTIVE partition pruning for the DataFrame-query ANN forms
    (closing ROADMAP 26's documented trade): the probe frame is
    materialized ONCE (``localCheckpoint``, so the ranking is not
    recomputed by the extra aggregation) and its DISTINCT cluster
    union — a driver collect bounded by ``n_clusters``, the same
    state class as the BM25 term union — is pushed into the payload
    read as a ``cluster IN (...)`` partition filter. A small DF sweep
    then gets the list form's pruned scans instead of a full-index
    pass; once the union SATURATES (== n_clusters — the large-sweep
    regime where the one-pass economics already favored a full scan)
    the filter is skipped as a no-op. Crossover cost: one
    map-side-combined distinct over Q x n_probe probe rows (<=
    n_clusters result rows) plus the checkpoint write — cents next to
    the corpus scan it can eliminate. Returns
    ``(probes, pruned_payload)``."""
    probes = probes.localCheckpoint()
    probed = sorted(r["cluster"] for r in
                    probes.select("cluster").distinct().collect())
    if len(probed) < n_clusters:
        payload = payload.filter(F.col("cluster").isin(probed))
    return probes, payload


def write_centroid_generation(spark, path: str,
                              centroids: list[list[float]],
                              gen: str, mode: str = "overwrite") -> None:
    """Persist a centroid table under ``centroids/batch=<gen>`` — the
    generation layout every persisted vector index shares. ``gen`` is
    the batch id that ESTABLISHES the generation (``indexlog.BASE_BATCH``
    at build; the rebalance's ``cmp`` id on retrain): readers resolve
    which generation to load as the unique gen-marked batch in their
    committed/pinned view (:func:`indexlog.resolve_generation`), which
    makes a rebalance's new centroids visible ATOMICALLY at its log
    commit — the centroid dirs themselves are immutable per generation.
    """
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    # gen_src is the generation's IDENTITY: the establishing batch id.
    # compact()'s marker transfer copies rows verbatim (new batch,
    # same gen_src), so two markers are the same generation exactly
    # when their gen_src matches — what resolve_generation's pin
    # validation keys on. mode="overwrite" replaces the whole
    # centroids base dir before the partition lands.
    fs = filesystem_for(spark, path)
    if mode == "overwrite":
        fs.glob_delete(f"{path}/centroids")
    fs.write_rows(f"{path}/centroids", [(i, c, gen) for i, c in rows],
                  "cluster int, centroid array<double>, gen_src string",
                  partition=("batch", gen))


def write_ivf_index(df: DataFrame, path: str,
                    centroids: list[list[float]],
                    id_column: str = "vec_id",
                    vector_column: str = "embedding") -> None:
    """Persist an IVF index: vectors assigned to their nearest centroid
    ONCE and written partitioned by cluster id, plus the centroid table.

    ``ivf_topk`` re-assigns the whole corpus on every call — right for a
    one-shot audit, wrong as the steady-state ANN path at 100 TB. Here
    assignment is paid at build time; a query then reads ONLY its
    ``n_probe`` clusters' partitions (Spark partition pruning), i.e.
    ~n_probe/n_clusters of the corpus, typically a few files.
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    _check_vector_dim(df, vector_column, len(centroids[0]), build=True)
    spark = df.sparkSession

    def write(batch_id: str) -> None:
        (_assign_canonical(df, centroids, id_column, vector_column, "auto")
           .withColumn("batch", F.lit(batch_id))
           .repartition("cluster")
           .write.mode("overwrite").partitionBy("cluster", "batch")
           .parquet(f"{path}/vectors"))
        write_centroid_generation(spark, path, centroids, batch_id)

    indexlog.build_index(spark, path, write)


def ivf_search(spark, path: str, queries,
               k: int = 10, n_probe: int = 2,
               candidates=None, as_of=None,
               query_id_column: str = "query_id",
               vector_column: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors per query from a persisted IVF index.

    ``queries`` is a small [(query_id, vector), ...] list (the broadcast
    side by construction, same convention as ``ivf_topk``) — OR a
    DataFrame of (``query_id_column``, ``vector_column``) for OFFLINE
    EVAL SWEEPS too large to collect: probe ranking then runs
    distributed (:func:`probe_clusters_df`), scoring is one
    cluster-join of the committed vectors against the probe frame, and
    nothing corpus- or query-scale touches the driver. The DataFrame
    form prunes ADAPTIVELY (:func:`prune_to_probed_clusters`, round
    12): a small sweep's probed-cluster union — bounded driver state,
    the BM25 term-union class — is pushed into the vector read as a
    partition filter, so it gets the list form's pruned scans; a
    large sweep's union saturates and the filter is skipped (one full
    pass for the whole set was already the economic choice there).
    Centroid ranking for the list form runs driver-side on the tiny
    centroid table; the vector scan is pruned to the probed clusters
    before scoring. Returns
    (query_id, id, score) with exact cosine re-ranking inside the probed
    clusters — identical results to ``ivf_topk`` with the same centroids
    and n_probe (tested).

    ``candidates`` (id list or DataFrame, :func:`candidate_filter`)
    restricts the search to a metadata-selected subset — filtered ANN.
    Filter-then-top-k: the k results are the best AMONG candidates.
    Probe caveat: candidates living outside the probed clusters are
    unreachable like any other vector; highly selective filters want a
    wider ``n_probe`` (or the full ``n_probe = n_clusters``, which this
    index's exact within-cluster scoring makes an exact filtered
    search). ``as_of`` pins the read to a captured batch set
    (indexlog.resolve_as_of): reproducible results through appends and
    compactions.
    """
    if not isinstance(queries, DataFrame) and not queries:
        raise ValueError("queries must be non-empty")
    # committed batches FIRST, then the centroid GENERATION that view
    # reads (cluster numbers only mean anything within one generation;
    # a rebalance committing after this snapshot changes neither)
    committed = indexlog.resolve_batches(spark, path, as_of)
    from dsgrid_spark.pipeline.pq import _read_centroids, query_id_type
    gen = indexlog.resolve_generation(spark, path, committed,
                                      validate_pin=as_of is not None)
    cent_list = _read_centroids(spark, path, gen)
    if isinstance(queries, DataFrame):
        q = queries.select(F.col(query_id_column).alias("query_id"),
                           F.col(vector_column).alias("__qv"))
        probes = probe_clusters_df(q, cent_list, n_probe,
                                   vector_column="__qv",
                                   keep=("__qv",))
        # adaptive pruning: a small sweep's probed-cluster union
        # becomes a partition filter (saturated unions skip it)
        probes, vectors = prune_to_probed_clusters(
            indexlog.read_committed(spark, path, "vectors",
                                    ids=committed),
            probes, len(cent_list))
        vectors = candidate_filter(vectors, candidates)
        scored = vectors.join(probes, "cluster").select(
            "query_id", "id",
            cosine(F.col("embedding"), F.col("__qv")).alias("score"))
        w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.col("id"))
        return (scored.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k).drop("__rn"))
    probe_rows = []
    for qid, qv in queries:
        for ci in rank_probes(cent_list, qv, n_probe):
            probe_rows.append((qid, ci, [float(x) for x in qv]))
    qid_type = query_id_type(queries)
    qdf = _osdf(
        spark, probe_rows,
        f"query_id {qid_type}, cluster int, __qv array<double>")
    probed_clusters = sorted({r[1] for r in probe_rows})
    # committed-batch filter: orphan partitions from a crashed append
    # are invisible (both cluster and batch prune at planning time)
    vectors = candidate_filter(
        indexlog.read_committed(spark, path, "vectors", ids=committed)
        .filter(F.col("cluster").isin(probed_clusters)),
        candidates)
    scored = vectors.join(F.broadcast(qdf), "cluster").select(
        "query_id", "id",
        cosine(F.col("embedding"), F.col("__qv")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def append_ivf_index(df: DataFrame, path: str,
                     id_column: str = "vec_id",
                     vector_column: str = "embedding",
                     batch_id: str | None = None) -> bool:
    """Append a new vector batch to a persisted IVF index without
    touching the existing partitions: the batch is assigned against the
    INDEX'S OWN centroid table (never caller-supplied — a drifted
    centroid list would route probes to the wrong partitions) and its
    rows land in batch-scoped cluster directories
    (``cluster=K/batch=<id>``).

    Centroids are not re-trained — the standard IVF maintenance
    trade-off (re-train + rebuild when the distribution drifts; the
    assignment here stays consistent with every earlier batch, so
    searches remain exact-within-probed-clusters). Equal to a fresh
    build over the concatenated corpus with the same centroids (tested).

    Exactly-once per ``batch_id`` (:func:`indexlog.append_batch`):
    ``ivf_search`` filters to committed batches, so readers see each
    batch atomically at its commit. Returns True when the batch was
    ingested, False for a replayed id.
    """
    from dsgrid_spark.pipeline.pq import _read_centroids

    spark = df.sparkSession

    def write(batch_id: str, gen: str | None) -> None:
        centroids = _read_centroids(spark, path, gen)
        _check_vector_dim(df, vector_column, len(centroids[0]),
                          build=False)
        (_assign_canonical(df, centroids, id_column, vector_column, "auto")
           .withColumn("batch", F.lit(batch_id))
           .repartition("cluster")
           .write.mode("append").partitionBy("cluster", "batch")
           .parquet(f"{path}/vectors"))

    return indexlog.append_batch(spark, path, batch_id, write)


# ---------------------------------------------------------------------------
# Persisted binary (sign-bit) index: the storage half of the cheapest
# rung on the quantization ladder (float64 -> int8 -> PQ codes -> sign
# bits). The in-memory hamming_topk re-packs the corpus per call and
# scans ALL of it; here bits are packed ONCE at build and a search
# reads only its probed clusters' BIT partitions — at 1e9 x 768-dim,
# packed bits are ~96 MB per 1M vectors (~62x smaller than float64
# vectors), the natural "scan replica" tier in front of the exact
# re-rank. Layout mirrors write_pq_index (pq.py) with bits/ in place
# of codes/:
#
#   meta/        one row: (dim, word_bits, store_vectors)
#   centroids/   (cluster int, centroid array<double>)   coarse lists
#   bits/cluster=K/batch=B/     (id, bits array<long>)   the scan payload
#   vectors/cluster=K/batch=B/  (id, embedding)          re-rank only
#   batches/ + intents/         indexlog exactly-once machinery
#
# bits/ and vectors/ are SEPARATE subtrees so the Hamming scan never
# lists a single vector file; appends/searches share pipeline/indexlog
# with the term/IVF/PQ indexes (batch-scoped partition dirs,
# log-commit-last, reader isolation via committed-batch pruning).
# ---------------------------------------------------------------------------


def pack_sign_bits(vector) -> list[int]:
    """Driver-side packing identical to :func:`binary_quantize`'s JVM
    fold (62 bits per long, high->low ``acc*2 + sign_bit``): the bit
    semantics are integer-exact, so the two implementations agree
    bit-for-bit and query vectors can pack in Python while the corpus
    packs in codegen."""
    wb = BINARY_WORD_BITS
    v = [float(x) for x in vector]
    words = []
    for w in range(0, len(v), wb):
        acc = 0
        for x in v[w:w + wb]:
            acc = acc * 2 + (1 if x > 0 else 0)
        words.append(acc)
    return words


def _check_vector_dim(df: DataFrame, vector_column: str, dim: int,
                      build: bool) -> None:
    """Refuse vectors whose length is not ``dim`` (the centroid or
    index dim) before anything is written: a wrong-dim row would be
    assigned no cluster and land where no search probes. Checks the
    first row (one ``first()`` job); a NULL first embedding skips the
    check."""
    first = df.select(vector_column).first()
    if first is not None and first[0] is not None \
            and len(first[0]) != dim:
        what, ref = (("corpus", "coarse centroid") if build
                     else ("batch", "index"))
        raise ValueError(f"{what} vector dim {len(first[0])} != {ref} "
                         f"dim {dim}")


def _assign_canonical(df: DataFrame, centroids: list[list[float]],
                      id_column: str, vector_column: str,
                      assign_strategy: str) -> DataFrame:
    """(id, embedding, cluster) — the canonical columns every persisted
    vector index stores, shared by the IVF and binary build/append
    paths."""
    return (
        assign_nearest_centroid(df, centroids, vector_column,
                                strategy=assign_strategy)
        .withColumnRenamed("__cluster", "cluster")
        .select(F.col(id_column).alias("id"),
                F.col(vector_column).alias("embedding"), "cluster")
    )


def write_binary_index(df: DataFrame, path: str,
                       coarse_centroids: list[list[float]],
                       id_column: str = "vec_id",
                       vector_column: str = "embedding",
                       store_vectors: bool = True,
                       assign_strategy: str = "auto",
                       vectors_dtype: str = "float64") -> None:
    """Build a persisted sign-bit index: assign each vector to its
    nearest coarse centroid, pack sign bits ONCE
    (:func:`binary_quantize`), and write the packed bits partitioned by
    cluster — a search reads only its probed clusters' BIT partitions
    (Spark partition pruning) and, when re-ranking, only the
    shortlist's vectors (id-pushdown scan, the pq_search shape).

    ``store_vectors=False`` builds a bits-only index (~62x smaller on
    disk at float64 dims); searches are then Hamming-only (``rerank``
    unavailable). ``vectors_dtype="int8"`` keeps the re-rank but stores
    the payload per-vector-quantized (pq._vectors_for_store; 8x fewer
    bytes per dimension) — and because the re-rank metric is COSINE,
    which is invariant to the per-vector scale, the int8 re-rank is
    exactly the cosine of the rounded vector: error bounded by
    per-coordinate rounding (≤ max_abs/254), rank flips only between
    near-ties. The commit sequence is :func:`indexlog.build_index`.
    """
    from dsgrid_spark.pipeline.pq import (_check_vectors_dtype,
                                          _vectors_for_store)

    if not coarse_centroids:
        raise ValueError("coarse_centroids must be non-empty")
    _check_vectors_dtype(vectors_dtype, store_vectors)
    dim = len(coarse_centroids[0])
    _check_vector_dim(df, vector_column, dim, build=True)
    spark = df.sparkSession
    fs = filesystem_for(spark, path)

    def write(batch_id: str) -> None:
        assigned = _assign_canonical(df, coarse_centroids, id_column,
                                     vector_column,
                                     assign_strategy).localCheckpoint()
        bits = (binary_quantize(assigned, "embedding", "bits")
                .select("id", "bits", "cluster")
                .withColumn("batch", F.lit(batch_id)))
        (bits.repartition("cluster")
           .write.mode("overwrite").partitionBy("cluster", "batch")
           .parquet(f"{path}/bits"))
        if store_vectors:
            (_vectors_for_store(assigned.withColumn("batch",
                                                    F.lit(batch_id)),
                                vectors_dtype)
               .repartition("cluster")
               .write.mode("overwrite").partitionBy("cluster", "batch")
               .parquet(f"{path}/vectors"))
        else:
            # a rebuild DOWN from store_vectors=True must reclaim the old
            # full-precision subtree (the dominant payload): meta now
            # says no vectors, so nothing would ever read OR vacuum it
            fs.glob_delete(f"{path}/vectors")
        write_centroid_generation(spark, path, coarse_centroids, batch_id)
        fs.write_rows(
            f"{path}/meta",
            [(dim, BINARY_WORD_BITS, bool(store_vectors), vectors_dtype)],
            "dim int, word_bits int, store_vectors boolean, "
            "vectors_dtype string")

    indexlog.build_index(spark, path, write)


def append_binary_index(df: DataFrame, path: str,
                        id_column: str = "vec_id",
                        vector_column: str = "embedding",
                        batch_id: str | None = None,
                        assign_strategy: str = "auto") -> bool:
    """Append a vector batch to a persisted binary index, exactly-once
    per ``batch_id`` (:func:`indexlog.append_batch`). Assignment uses
    the INDEX'S OWN centroids — never caller-supplied, which would
    desync probes from partitions. Equal to a fresh build over the
    concatenated corpus with the same centroids (tested). Returns True
    when ingested, False for a replayed id.
    """
    from dsgrid_spark.pipeline.pq import (_read_centroids, _read_meta,
                                          _vectors_for_store)

    spark = df.sparkSession

    def write(batch_id: str, gen: str | None) -> None:
        meta = _read_meta(spark, path)
        _check_vector_dim(df, vector_column, meta["dim"], build=False)
        centroids = _read_centroids(spark, path, gen)
        assigned = _assign_canonical(df, centroids, id_column,
                                     vector_column,
                                     assign_strategy).localCheckpoint()
        bits = (binary_quantize(assigned, "embedding", "bits")
                .select("id", "bits", "cluster")
                .withColumn("batch", F.lit(batch_id)))
        (bits.repartition("cluster")
           .write.mode("append").partitionBy("cluster", "batch")
           .parquet(f"{path}/bits"))
        if meta["store_vectors"]:
            (_vectors_for_store(assigned.withColumn("batch",
                                                    F.lit(batch_id)),
                                meta.get("vectors_dtype") or "float64")
               .repartition("cluster")
               .write.mode("append").partitionBy("cluster", "batch")
               .parquet(f"{path}/vectors"))

    return indexlog.append_batch(spark, path, batch_id, write)


def hamming_search(spark, path: str, queries, k: int = 10,
                   n_probe: int = 2, shortlist: int | None = None,
                   rerank: bool | None = None,
                   candidates=None, as_of=None,
                   query_id_column: str = "query_id",
                   vector_column: str = "embedding") -> DataFrame:
    """Search a persisted binary index: coarse probe ranking
    driver-side on the tiny centroid table, XOR+popcount Hamming over
    the probed clusters' BIT partitions only (partition-pruned,
    committed-batch filtered), then — when the index stores vectors —
    an exact cosine re-rank that reads ONLY the shortlist's vectors
    (an isin-pushdown scan of Q x shortlist ids, bounded by
    construction).

    ``queries`` is a small [(query_id, vector), ...] list (the
    ivf_search/pq_search convention); query vectors pack driver-side
    with :func:`pack_sign_bits` (bit-identical to the corpus packing).
    A DataFrame of (``query_id_column``, ``vector_column``) instead
    runs the OFFLINE-EVAL form: query bits pack in codegen
    (:func:`binary_quantize` — the same integer-exact fold), probe
    ranking runs distributed (:func:`probe_clusters_df`), the
    shortlist reduces with one rank window, and the re-rank is a JOIN
    of the shortlist against the vector payload — no driver collect
    anywhere, so the query set can be millions of rows. The DataFrame
    form does not prune cluster partitions (a large set probes most
    lists; one pass for the whole set is the point) and reads the
    re-rank vectors by join rather than id-pushdown.
    ``shortlist`` is the Hamming candidate count per query fed to the
    re-rank (default 4k, floored at k); ``rerank=None`` re-ranks
    exactly when the index stores vectors. Returns (query_id, id,
    hamming) ascending when ``rerank=False`` — identical to
    :func:`hamming_topk` under a full probe (tested) — else
    (query_id, id, score) with exact cosine descending. Degenerate
    (null/empty) corpus vectors pack to empty bit arrays, score a NULL
    Hamming distance, and sort last, as in hamming_topk.

    ``candidates`` (id list or DataFrame, :func:`candidate_filter`)
    restricts the scan to a metadata-selected subset BEFORE the
    shortlist window — filtered ANN with filter-then-top-k semantics
    (the shortlist holds only candidates, so selective filters lose no
    re-rank depth). Probe caveat as :func:`ivf_search`. ``as_of`` pins
    the read to a captured batch set (indexlog.resolve_as_of):
    reproducible results through appends and compactions.
    """
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.pq import (_read_centroids, _read_meta,
                                          query_id_type)

    if not isinstance(queries, DataFrame) and not queries:
        raise ValueError("queries must be non-empty")
    meta = _read_meta(spark, path)
    if rerank is None:
        rerank = bool(meta["store_vectors"])
    if rerank and not meta["store_vectors"]:
        raise ValueError("index was built with store_vectors=False; "
                         "pass rerank=False for Hamming-only search")
    committed = indexlog.resolve_batches(spark, path, as_of)
    centroids = _read_centroids(
        spark, path, indexlog.resolve_generation(
            spark, path, committed, validate_pin=as_of is not None))
    if isinstance(queries, DataFrame):
        return _hamming_search_df(
            spark, path, queries, k, n_probe, shortlist, rerank,
            candidates, committed, centroids, meta,
            query_id_column, vector_column)
    qid_type = query_id_type(queries)
    probe_rows = []
    for qid, qv in queries:
        qv = [float(x) for x in qv]
        if len(qv) != meta["dim"]:
            raise ValueError(f"query dim {len(qv)} != index dim "
                             f"{meta['dim']}")
        qbits = pack_sign_bits(qv)
        for ci in rank_probes(centroids, qv, n_probe):
            probe_rows.append((qid, ci, qbits))
    probed_clusters = sorted({c for _, c, _ in probe_rows})
    probes = F.broadcast(_osdf(spark,
        probe_rows,
        f"query_id {qid_type}, cluster int, __qbits array<long>"))
    bits = candidate_filter(
        indexlog.read_committed(spark, path, "bits", ids=committed)
        .filter(F.col("cluster").isin(probed_clusters)),
        candidates)
    scored = bits.join(probes, "cluster").select(
        "query_id", "id",
        hamming_distance(F.col("bits"), F.col("__qbits"))
        .alias("hamming"))
    n_short = k if not rerank else max(k, shortlist or 4 * k)
    w = Window.partitionBy("query_id").orderBy(
        F.asc_nulls_last("hamming"), F.col("id"))
    short = (scored.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= n_short).drop("__rn"))
    if not rerank:
        return short
    # shortlist ids collect driver-side: Q x shortlist rows, bounded by
    # construction — the isin pushes into the parquet scan so the
    # re-rank reads only shortlist row groups of the probed clusters
    pairs = [(r["query_id"], r["id"]) for r in
             short.select("query_id", "id").collect()]
    ids = sorted({i for _, i in pairs})
    from dsgrid_spark.pipeline.pq import _rerank_embedding
    vectors = _rerank_embedding(
        indexlog.read_committed(spark, path, "vectors", ids=committed)
        .filter(F.col("cluster").isin(probed_clusters))
        .filter(F.col("id").isin(ids)),
        meta.get("vectors_dtype") or "float64")
    pair_df = F.broadcast(_osdf(spark, 
        pairs, StructType([StructField("query_id",
                                       short.schema["query_id"].dataType),
                           short.schema["id"]])))
    qvec = F.broadcast(_osdf(spark, 
        [(qid, [float(x) for x in qv]) for qid, qv in queries],
        f"query_id {qid_type}, __qv array<double>"))
    rescored = (vectors.join(pair_df, "id").join(qvec, "query_id")
                .select("query_id", "id",
                        cosine(F.col("embedding"), F.col("__qv"))
                        .alias("score")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                F.col("id"))
    return (rescored.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= k).drop("__rn"))


def _hamming_search_df(spark, path: str, queries: DataFrame, k: int,
                       n_probe: int, shortlist: int | None,
                       rerank: bool, candidates, committed: set[str],
                       centroids: list[list[float]], meta: dict,
                       query_id_column: str,
                       vector_column: str) -> DataFrame:
    """The DataFrame-query form of :func:`hamming_search` (see its
    docstring): fully distributed — codegen bit packing, join-fanned
    probes, rank-window shortlist, join-based exact re-rank."""
    first = queries.select(vector_column).first()
    if first is not None and first[0] is not None \
            and len(first[0]) != meta["dim"]:
        raise ValueError(f"query dim {len(first[0])} != index dim "
                         f"{meta['dim']}")
    q = queries.select(F.col(query_id_column).alias("query_id"),
                       F.col(vector_column).cast("array<double>")
                       .alias("__qv"))
    qb = binary_quantize(q, "__qv", "__qbits")
    probes = probe_clusters_df(qb, centroids, n_probe,
                               vector_column="__qv",
                               keep=("__qbits",))
    # adaptive pruning (see prune_to_probed_clusters): small sweeps
    # read only their probed clusters' bit partitions
    probes, bits = prune_to_probed_clusters(
        indexlog.read_committed(spark, path, "bits", ids=committed),
        probes, len(centroids))
    bits = candidate_filter(bits, candidates)
    scored = bits.join(probes, "cluster").select(
        "query_id", "id",
        hamming_distance(F.col("bits"), F.col("__qbits"))
        .alias("hamming"))
    n_short = k if not rerank else max(k, shortlist or 4 * k)
    w = Window.partitionBy("query_id").orderBy(
        F.asc_nulls_last("hamming"), F.col("id"))
    short = (scored.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= n_short).drop("__rn"))
    if not rerank:
        return short
    from dsgrid_spark.pipeline.pq import _rerank_embedding
    vectors = _rerank_embedding(
        indexlog.read_committed(spark, path, "vectors", ids=committed),
        meta.get("vectors_dtype") or "float64")
    rescored = (short.select("query_id", "id")
                .join(vectors, "id").join(q, "query_id")
                .select("query_id", "id",
                        cosine(F.col("embedding"), F.col("__qv"))
                        .alias("score")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                F.col("id"))
    return (rescored.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= k).drop("__rn"))


def semantic_dedup(df: DataFrame,
                   centroids: list[list[float]] | None = None,
                   threshold: float = 0.95,
                   id_column: str = "vec_id",
                   vector_column: str = "embedding",
                   keep: str = "min_id",
                   n_clusters: int | None = None,
                   target_cluster_size: int = 1024,
                   kmeans_iterations: int = 5,
                   fit_sample_cap: int | None = None,
                   n_clusterings: int = 1,
                   extra_clusterings: list[list[list[float]]] | None = None,
                   ) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus, find
    near-duplicate pairs WITHIN each cluster only, connect them into
    duplicate groups, and keep one representative per group.

    The cluster is the blocking unit — the all-pairs cosine self-join
    runs per cluster, so the shuffle carries (cluster, id, vector) once
    and pair work is O(sum of cluster sizes squared), the standard
    SemDeDup cost regime (n_clusters grows with the corpus so clusters
    stay bounded). Near-dups split across two clusters are missed —
    the method's documented recall trade, identical to the paper.
    ``n_clusterings > 1`` is the standard cheap mitigation: run the
    blocked pair scan under that many INDEPENDENT clusterings
    (different k-means seeds, or caller-supplied ``extra_clusterings``)
    and union the pair sets before connected components — a pair
    straddling one clustering's boundary is caught when any other
    clustering co-locates it. Cost is one extra assignment + blocked
    self-join per clustering (the union feeds ONE components run);
    survivor metadata (cluster, centroid_sim) always reports the
    PRIMARY clustering. Centroids come from the caller
    (``kmeans_centroids`` or a
    domain-specific codebook), so assignment is reproducible; with
    ``centroids=None`` they are fit internally, with k derived from the
    measured corpus size (``ceil(n / target_cluster_size)``, capped at
    4096) unless ``n_clusters`` pins it — the SCALE_R6 lesson that a
    FIXED codebook is an O(n²/k) trap operationalized: 100× the corpus
    under k=32 cost 51× wall; the same corpus at the derived k ran 2.9×
    faster. Fitting costs ``kmeans_iterations`` extra passes, so for
    repeated runs fit once with ``kmeans_centroids`` and pass the
    result in.

    ``keep`` picks the representative per duplicate group:

    - ``min_id``: smallest id — deterministic, oracle-friendly.
    - ``far_from_centroid``: the member LEAST similar to its cluster
      centroid (the paper's choice — keeping the outlier preserves more
      diversity than keeping the prototype); ties break to smallest id.

    Returns survivors only: (id, cluster, n_members, centroid_sim)
    where n_members counts the survivor's duplicate group (1 for
    uniques) and centroid_sim is the survivor's cosine to its own
    cluster centroid.
    """
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"keep must be min_id or far_from_centroid, "
                         f"got {keep!r}")
    import math

    from dsgrid_spark.pipeline.dedup import connected_components

    if centroids is None:
        if target_cluster_size < 1:
            raise ValueError(f"target_cluster_size must be positive, "
                             f"got {target_cluster_size}")
        if n_clusters is None:
            n_rows = df.count()
            n_clusters = max(1, min(4096,
                                    math.ceil(n_rows / target_cluster_size)))
        dim = len(df.select(vector_column).first()[0])
        # fit_sample_cap bounds the INTERNAL fit's per-iteration work
        # (see kmeans_centroids) — at the derived k over a 100 TB corpus
        # the fit, not the assignment, is the repeated full pass
        centroids = kmeans_centroids(df, n_clusters, dim, vector_column,
                                     iterations=kmeans_iterations,
                                     fit_sample_cap=fit_sample_cap)
    if n_clusterings < 1:
        raise ValueError(f"n_clusterings must be >= 1, got {n_clusterings}")
    extras = [list(c) for c in (extra_clusterings or [])]
    # fit any still-missing independent clusterings with shifted seeds
    # (each is one more kmeans fit + assignment + blocked self-join)
    for i in range(len(extras), n_clusterings - 1):
        extras.append(kmeans_centroids(
            df, len(centroids), len(centroids[0]), vector_column,
            iterations=kmeans_iterations, seed=11 + 101 * (i + 1),
            fit_sample_cap=fit_sample_cap))

    # normalize once so every downstream score is a plain dot product —
    # O(n) norm folds instead of O(pairs x centroids), and (as
    # important) a small expression tree: the k cosine folds of a naive
    # formulation dominate CATALYST ANALYSIS time per query, not just
    # row work. Centroids normalize on the driver (cosine is
    # scale-invariant, values unchanged).
    unit_cents = []
    for c in centroids:
        d = math.sqrt(sum(x * x for x in c))
        unit_cents.append([x / d for x in c] if d else list(c))
    normed = normalize_embeddings(
        df.select(F.col(id_column).alias("id"),
                  F.col(vector_column).alias("__v")), "__v")
    # truncate lineage BEFORE the k-way score fan-out: the argmax
    # duplicates __v's defining expression ~2k times (k dots, each
    # referenced by the ladder AND the max), so a caller that builds the
    # embedding from a wide column expression would otherwise pay
    # Catalyst analysis of a k*|expr| tree on EVERY downstream job —
    # measured 12 s on 512 rows for a 32-term constructed vector. After
    # the checkpoint __v is a plain column of a LogicalRDD; the
    # materialized footprint is the same (id, unit-vector) rows the old
    # persist held.
    normed = normed.localCheckpoint()
    # one_slice_df: plans as a JVM literal for bounded codebooks (r12)
    # — the broadcast build otherwise pays a pickled-RDD Python scan
    cent_df = _osdf(df.sparkSession,
                    [(i, c) for i, c in enumerate(unit_cents)],
                    "cluster int, __cent array<double>")
    assigned = (
        assign_nearest_centroid(normed, unit_cents, "__v",
                                assume_normalized=True)
        .withColumnRenamed("__cluster", "cluster")
        # one broadcast row per centroid, ONE dot for the row's own
        # centroid similarity — not a k-wide literal lookup array
        .join(F.broadcast(cent_df), "cluster")
        .withColumn("centroid_sim", dot(F.col("__v"), F.col("__cent")))
        .drop("__cent")
        .persist()
    )
    def within_pairs(frame):
        a = frame.select("cluster", F.col("id").alias("id_a"),
                         F.col("__v").alias("__va"))
        b = frame.select("cluster", F.col("id").alias("id_b"),
                         F.col("__v").alias("__vb"))
        return (
            a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(dot(F.col("__va"), F.col("__vb")) >= F.lit(threshold))
            .select("id_a", "id_b")
        )

    pairs = within_pairs(assigned)
    for extra in extras:
        unit_extra = []
        for c in extra:
            d = math.sqrt(sum(x * x for x in c))
            unit_extra.append([x / d for x in c] if d else list(c))
        pairs = pairs.unionByName(within_pairs(
            assign_nearest_centroid(normed, unit_extra, "__v",
                                    assume_normalized=True)
            .withColumnRenamed("__cluster", "cluster")))
    # no persist here: connected_components materializes its OWN edge
    # table from this plan exactly once (explode + distinct + persist),
    # so persisting pairs too would just run the blocked self-join an
    # extra time to fill a cache nothing reads
    comp = connected_components(pairs)
    members = (
        assigned.join(comp, "id", "left")
        # vertices with no near-dup edge are their own singleton group
        .withColumn("component", F.coalesce("component", F.col("id")))
    )
    if keep == "min_id":
        rep = F.struct(F.col("id").alias("k1"), F.col("id").alias("k2"))
    else:
        # id stays in its NATIVE type as the struct tie-break field
        # (struct ordering compares field-wise, each in its own type);
        # a double cast here would collide ids above 2^53 and the
        # equality filter below could then keep several (or zero)
        # survivors per component
        rep = F.struct(F.col("centroid_sim").alias("k1"),
                       F.col("id").alias("k2"))
    stats = (
        members.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.min(rep).alias("__rep"))
    )
    out = (
        members.join(stats, "component")
        .filter(F.col("id") == F.col("__rep.k2"))
        .select("id", "cluster", "n_members", "centroid_sim")
    )
    # the survivor set is final here: materialize it (small — one row
    # per kept doc, 4 scalar columns) and release the corpus-scale
    # (id, vector, cluster) cache instead of leaking it across calls
    out = out.localCheckpoint()
    assigned.unpersist()
    return out
