"""Product quantization (PQ) for billion-scale ANN.

IVF alone (pipeline/similarity.py) prunes WHICH vectors a query scores
but still stores and reads full float vectors — at 1e9 x 768-dim that
is ~3 TB of vector payload per scan replica. PQ (Jegou/Douze/Schmid,
TPAMI 2011) is the standard next step: split each vector into ``m``
subvectors, k-means each subspace to a tiny codebook, and store each
vector as ``m`` small integers (codes). Search scores candidates with
an Asymmetric Distance Computation (ADC) lookup table — the query stays
full precision, each candidate costs ``m`` table lookups instead of
``dim`` multiplies, and the corpus payload shrinks from ``dim`` floats
to ``m`` bytes-ish per vector (768 floats -> 16 ints is a ~190x read
reduction at scan time).

Spark-first design decisions:

- **Codebooks are DATA, never plan literals** — the full nested
  codebook rides ONE broadcast row of ``array<array<array<double>>>``
  (m x k x dsub), consumed by nested HOF lambdas. Same lesson as
  ``assign_nearest_centroid``'s ``data`` strategy
  (tools/scale_centroid_assign.py: Catalyst analysis is superlinear in
  literal count; data-path analysis is flat): a production m=16, k=256,
  dsub=48 codebook is 196k doubles — inlining it would be an
  analysis-time scale-killer on every downstream job.
- **Encoding is one narrow projection** — no join, no shuffle: each row
  computes its m argmins inside whole-stage codegen (O(k*dim) fused
  multiply-adds per row, embarrassingly parallel). The (id, code) table
  is the only thing wide plans ever touch again.
- **ADC LUTs are per-query rows** — (query_id, m x k table) built
  driver-side from the (small, by construction) query set, broadcast,
  and applied with ``aggregate(transform(code, (c, j) -> lut[j][c]))``.
  Scoring never touches the original vectors.
- **IVF-PQ composes** existing pieces: coarse-assign with
  ``assign_nearest_centroid`` (auto literal/data strategy), PQ-encode
  once, probe clusters per query, ADC-score only the probed candidates.

Exactness escape hatch for cross-engine audits: when every corpus
subvector appears verbatim in its subspace codebook
(:func:`exact_codebooks`), encoding is lossless and the ``ip`` ADC
score equals the true dot product — PQ top-k == brute-force top-k,
bit-for-bit, which is how the driver oracle pins this operator.

Reference parity: the reference engine has no ANN/PQ surface; this
extends the similarity family (SURVEY.md "beyond the reference"
pipeline scope) the same way ivf_topk/lsh_topk do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               StructField, StructType)

from dsgrid_spark.filesystem import filesystem_for
from dsgrid_spark.pipeline import indexlog
from dsgrid_spark.session import one_slice_df as _osdf

__all__ = [
    "pq_fit",
    "exact_codebooks",
    "pq_encode",
    "pq_topk",
    "ivf_pq_topk",
    "coarse_residuals",
    "write_pq_index",
    "append_pq_index",
    "pq_search",
]


def _check_geometry(dim: int, n_subvectors: int) -> int:
    if n_subvectors <= 0 or dim <= 0:
        raise ValueError(f"dim and n_subvectors must be positive, got "
                         f"dim={dim}, n_subvectors={n_subvectors}")
    if dim % n_subvectors != 0:
        raise ValueError(f"dim must divide evenly into subvectors, got "
                         f"dim={dim}, n_subvectors={n_subvectors}")
    return dim // n_subvectors


def _check_codebooks(codebooks: list[list[list[float]]]) -> tuple[int, int, int]:
    """Validate shape; returns (m, k, dsub)."""
    if not codebooks or not codebooks[0] or not codebooks[0][0]:
        raise ValueError("codebooks must be a non-empty m x k x dsub list")
    m, k, dsub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    for j, cb in enumerate(codebooks):
        if len(cb) != k or any(len(c) != dsub for c in cb):
            raise ValueError(f"codebook {j} is ragged: every subspace "
                             f"needs the same k x dsub shape")
    return m, k, dsub


def pq_fit(df: DataFrame, dim: int, n_subvectors: int, n_centroids: int,
           vector_column: str = "embedding", iterations: int = 5,
           seed: int = 11,
           fit_sample_cap: int | None = None) -> list[list[list[float]]]:
    """Fit per-subspace L2 k-means codebooks — all ``m`` subspaces in
    the SAME Spark jobs, not m sequential fits.

    The first cut fit each subspace with its own k-means loop: m ×
    iterations driver-synchronized mini-jobs, measured 1068 s at
    m=8/k=256 over a 50k sample (tools/rehearsal_pq.py) — the latency
    was job count, not row work. A second cut ran one JVM-HOF
    assignment job per iteration across all subspaces (160 s — HOFs
    are interpreted per element). This version assigns with the SAME
    numpy Arrow kernel ``pq_encode`` uses (one matmul per subspace per
    batch) and aggregates means in one shuffle whose rows are bounded
    by m*k*dsub — never by corpus size; the codebook ships per
    iteration via closure, the driver collects k*dim doubles back.

    Distances are L2 (the PQ objective is reconstruction error — Jegou
    TPAMI'11 §III), ties to the lowest centroid index.
    ``fit_sample_cap`` bounds what the iterations scan, as in
    ``kmeans_centroids``. Returns ``codebooks[m][k][dsub]``; subspace
    ``j`` covers vector positions ``[j*dsub, (j+1)*dsub)``.
    """
    import math
    import random

    dsub = _check_geometry(dim, n_subvectors)
    m = n_subvectors
    rnd = random.Random(seed)
    total = df.count()
    fit_df = df.select(F.col(vector_column).alias("__v"))
    if fit_sample_cap is not None and total > fit_sample_cap:
        denom = math.ceil(total / fit_sample_cap)
        fit_df = fit_df.filter(
            F.pmod(F.xxhash64(F.col("__v")), F.lit(denom)) == 0)
    # ONE materialization; every iteration rereads these rows
    fit_df = fit_df.localCheckpoint()
    n_fit = fit_df.count()
    # seed pool: full vectors sampled across partitions, sliced per
    # subspace driver-side — one collect seeds all m codebooks
    n_pool = max(n_centroids * 20, 200)
    fraction = min(1.0, (n_pool * 2.0) / max(n_fit, 1))
    pool = [list(r["__v"]) for r in
            fit_df.sample(fraction=fraction, seed=seed)
            .limit(n_pool).collect()]
    if len(pool) < n_centroids:
        pool = [list(r["__v"]) for r in fit_df.limit(n_pool).collect()]
    books = []
    for j in range(m):
        rows = [v[j * dsub:(j + 1) * dsub] for v in pool]
        books.append(rnd.sample(rows, min(n_centroids, len(rows))))

    for _ in range(iterations):
        coded = _encode_rows(fit_df, books, "__v", keep_vector=True)
        # (j, cluster, pos, x) exploded from each (vector, code) row;
        # the groupBy shuffle carries map-side partial means only
        parts = coded.select(F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.struct(
                j.cast("int").alias("j"),
                F.get(F.col("__code"), j).alias("cl"),
                F.slice(F.col("__v"), j * dsub + 1, dsub).alias("sub")),
        )).alias("e")).select("e.j", "e.cl", "e.sub")
        means = (
            parts.select("j", "cl", F.posexplode("sub").alias("pos", "x"))
            .groupBy("j", "cl", "pos").agg(F.avg("x").alias("mu"))
            .groupBy("j", "cl")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "mu"))).alias("ps"))
            .select("j", "cl",
                    F.transform("ps", lambda s: s["mu"]).alias("c"))
            .collect()
        )
        got = {(r["j"], r["cl"]): list(r["c"]) for r in means}
        books = [[got.get((j, i), books[j][i])
                  for i in range(len(books[j]))] for j in range(m)]
    return books


def exact_codebooks(df: DataFrame, dim: int, n_subvectors: int,
                    vector_column: str = "embedding",
                    max_distinct: int = 100_000) -> list[list[list[float]]]:
    """Codebooks holding every DISTINCT subvector of the corpus, sorted
    — encoding under these is lossless (each subvector's own entry is
    at L2 distance 0), so ``ip`` ADC scores equal true dot products and
    PQ top-k equals brute force. The audit/oracle construction; raises
    if any subspace exceeds ``max_distinct`` entries (the point of real
    PQ is precisely that k stays small — this helper is for bounded
    test corpora, not production fitting).

    Subspace codebooks are padded to a common k by repeating their last
    entry (codebook shape must be rectangular); padding entries are
    duplicates at strictly greater index, so the lowest-index tie-break
    never selects them and losslessness is unaffected.
    """
    dsub = _check_geometry(dim, n_subvectors)
    books = []
    for j in range(n_subvectors):
        rows = (df.select(
            F.slice(F.col(vector_column), j * dsub + 1, dsub).alias("__sub"))
            .distinct().limit(max_distinct + 1).collect())
        if len(rows) > max_distinct:
            raise ValueError(f"subspace {j} has more than {max_distinct} "
                             f"distinct subvectors; use pq_fit for real "
                             f"corpora")
        if not rows:
            raise ValueError("corpus is empty: exact_codebooks needs at "
                             "least one vector per subspace")
        books.append(sorted([list(r["__sub"]) for r in rows]))
    k = max(len(b) for b in books)
    for b in books:
        b.extend([b[-1]] * (k - len(b)))
    return books


def _codebook_row(spark, codebooks: list[list[list[float]]]):
    """The m x k x dsub codebook as ONE broadcast row (column
    ``__cbs``) — data, not plan literals."""
    payload = [[[float(x) for x in c] for c in cb] for cb in codebooks]
    return F.broadcast(_osdf(spark, 
        [(payload,)], "__cbs: array<array<array<double>>>"))


def _l2sq(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              id_column: str = "vec_id",
              vector_column: str = "embedding",
              code_column: str = "code",
              method: str = "arrow") -> DataFrame:
    """Encode each vector as ``m`` codebook indices (``array<int>``):
    code[j] = argmin over subspace j's centroids of L2 distance to the
    j-th subvector; ties break to the lowest centroid index.

    Two methods, same results:

    - ``arrow`` (default) — a ``mapInPandas`` numpy kernel: per Arrow
      batch, distances for ALL rows × subspaces × centroids come from
      one ``||x||² − 2·x·Cᵀ + ||c||²`` matmul per subspace and the
      argmin is vectorized. The library's honest-Arrow convention for
      inherently numeric kernels (the rolling-hash precedent): Spark's
      higher-order functions are interpreted per element, not
      codegen'd, and the measured HOF encode was ~36 µs/row·(m·k
      =2048) at sf10 — the numpy kernel removes that constant. Only
      (id, code) crosses Arrow back.
    - ``hof`` — pure JVM column expressions (nested
      transform/aggregate over one broadcast codebook row): zero
      Python anywhere, the audit/fallback path and the independent
      implementation the equality test checks against.

    Tie-break parity: the numpy path computes ``-2·x·c + ||c||²`` per
    centroid (same winner as full L2; the row term is constant) and
    takes the FIRST minimum — on exact ties both paths pick the lowest
    index. Near-ties within float error can differ between the paths
    by an ULP-order rounding flip; the lossless exact-codebook regime
    has true zero distances, so audits are unaffected.

    One narrow projection either way — no join, no shuffle. Output is
    (id, code) only: the corpus' scan-time footprint from here on.
    """
    if method not in ("arrow", "hof"):
        raise ValueError(f"method must be arrow|hof, got {method!r}")
    m, k, dsub = _check_codebooks(codebooks)
    if method == "hof":
        spark = df.sparkSession
        v = F.col(vector_column)
        # per subspace j: max over (−dist², −index) structs == min
        # dist, tie -> lowest index (assign_nearest_centroid's idiom)
        code = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: -F.array_max(F.transform(
                F.get(F.col("__cbs"), j),
                lambda c, i: F.struct(
                    (-_l2sq(F.slice(v, j * dsub + 1, dsub), c)).alias("nd"),
                    (-i).alias("ni"),
                ),
            ))["ni"].cast("int"),
        )
        return (
            df.crossJoin(_codebook_row(spark, codebooks))
            .select(F.col(id_column), code.alias(code_column))
        )
    return _encode_rows(df, codebooks, vector_column,
                        id_column=id_column, code_column=code_column)


def _encode_rows(df: DataFrame, codebooks: list[list[list[float]]],
                 vector_column: str, id_column: str | None = None,
                 code_column: str = "__code",
                 keep_vector: bool = False) -> DataFrame:
    """The shared numpy ``mapInPandas`` encode kernel: per Arrow batch,
    one ``−2·x·Cᵀ + ||c||²`` matmul per subspace and a vectorized
    first-minimum argmin. ``keep_vector=True`` passes the vector
    through as ``__v`` (the fit loop needs (vector, code) pairs without
    a join); ``id_column`` passes an id through for the public encode.
    """
    import numpy as np
    from pyspark.sql.types import (ArrayType, IntegerType, StructField,
                                   StructType)

    m, k, dsub = _check_codebooks(codebooks)
    cols = [F.col(id_column)] if id_column else []
    in_df = df.select(*cols, F.col(vector_column).alias("__v"))
    fields = [StructField(f.name, f.dataType)
              for f in in_df.schema if f.name != "__v"]
    if keep_vector:
        fields.append(in_df.schema["__v"])
    out_schema = StructType(
        fields + [StructField(code_column, ArrayType(IntegerType()))])
    # the codebook tensor ships once per task via closure serialization
    # (m*k*dsub doubles — 2 MB at 16x256x64), not per batch
    cb = np.asarray(codebooks, dtype=np.float64)          # (m, k, dsub)
    cb_sq = (cb * cb).sum(axis=2)                         # (m, k)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.assign(**{code_column: []})
                yield out if keep_vector else out.drop(columns="__v")
                continue
            x = np.asarray(
                [np.asarray(r, dtype=np.float64) for r in pdf["__v"]])
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xj = x[:, j * dsub:(j + 1) * dsub]        # (n, dsub)
                # argmin ||x-c||² == argmin (−2xc + ||c||²); first min
                scores = -2.0 * (xj @ cb[j].T) + cb_sq[j]  # (n, k)
                codes[:, j] = np.argmin(scores, axis=1)
            out = pdf.assign(**{code_column: list(codes)})
            yield out if keep_vector else out.drop(columns="__v")

    return in_df.mapInPandas(encode, out_schema)


def _lut_rows(codebooks, query_vectors: list[tuple], metric: str):
    """[(query_id, m x k lut), ...] driver-side from a small
    [(query_id, vector), ...] list. ``ip``: lut[j][i] = dot(q_j,
    c_{j,i}), so the summed score approximates dot(q, v). ``l2``:
    lut[j][i] = −‖q_j − c_{j,i}‖², so the summed score is −(approximate
    squared distance) — larger is closer for both, and top-k ordering
    code is shared."""
    m, k, dsub = _check_codebooks(codebooks)
    rows = []
    for qid, qv in query_vectors:
        qv = [float(x) for x in qv]
        if len(qv) != m * dsub:
            raise ValueError(f"query dim {len(qv)} != m*dsub {m * dsub}")
        lut = []
        for j, cb in enumerate(codebooks):
            qj = qv[j * dsub:(j + 1) * dsub]
            if metric == "ip":
                lut.append([sum(a * b for a, b in zip(qj, c)) for c in cb])
            else:
                lut.append([-sum((a - b) ** 2 for a, b in zip(qj, c))
                            for c in cb])
        rows.append((qid, lut))
    return rows


def _adc_luts(spark, codebooks, queries, query_id_column, vector_column,
              metric):
    """(query_id, __lut array<array<double>>) — one m x k ADC table per
    query, built driver-side from the small-by-construction query set
    and broadcast (see :func:`_lut_rows` for score semantics)."""
    rows = _lut_rows(
        codebooks,
        [(r[query_id_column], r[vector_column])
         for r in queries.collect()], metric)
    # query-id dtype follows the caller's frame (string / int / long
    # ids all join correctly) instead of a hardcoded long
    schema = StructType([
        queries.schema[query_id_column],
        StructField("__lut", ArrayType(ArrayType(DoubleType()))),
    ])
    return F.broadcast(_osdf(spark, rows, schema))


def _adc_score(code_column: str) -> Column:
    return F.aggregate(
        F.transform(F.col(code_column),
                    lambda c, j: F.get(F.get(F.col("__lut"), j), c)),
        F.lit(0.0), lambda acc, x: acc + x)


def _adc_scan_arrow(codes: DataFrame, lut_rows, k: int, id_column: str,
                    code_column: str, qid_field: StructField) -> DataFrame:
    """Fan every Arrow batch of codes out over all queries with ONE
    numpy gather per query — ``lut[arange(m), code_matrix]`` row-summed
    — and emit only each query's per-batch top-k (ordered by score
    desc, id asc), so the Arrow return path carries batches × Q × k
    rows, never n × Q. The global window over these local winners is
    exact: any global top-k row is a top-k row of its own batch.

    This is the scale path for the full-corpus ADC scan (the canonical
    PQ deployment): the interpreted-HOF fold costs ~17.6 µs per
    (candidate, query) — ~5 h per 1e9 codes — where this kernel is one
    vectorized gather. Scores agree with the HOF fold to within
    last-ULP rounding (numpy row-sum vs sequential JVM fold); the
    exact-codebook integer regime is bit-equal, which is what the
    equality tests pin.
    """
    import numpy as np

    in_df = codes.select(F.col(id_column), F.col(code_column))
    out_schema = StructType([
        StructField(qid_field.name, qid_field.dataType),
        in_df.schema[id_column],
        StructField("score", DoubleType()),
    ])
    if not lut_rows:
        # empty query set: same empty result the hof crossJoin yields
        return codes.sparkSession.createDataFrame([], out_schema)
    luts = np.asarray([lut for _, lut in lut_rows], dtype=np.float64)
    qids = [qid for qid, _ in lut_rows]
    nq, m, _ = luts.shape
    jj = np.arange(m)

    def score(batches):
        import pandas as pd
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            cm = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf[code_column]])
            ids = pdf[id_column].to_numpy()
            kk = min(k, n)
            out_q, out_i, out_s = [], [], []
            for qi in range(nq):
                s = luts[qi][jj, cm].sum(axis=1)          # (n,)
                top = np.lexsort((ids, -s))[:kk]
                out_q.extend([qids[qi]] * kk)
                out_i.extend(ids[top])
                out_s.extend(s[top])
            yield pd.DataFrame({qid_field.name: out_q,
                                id_column: out_i, "score": out_s})

    return in_df.mapInPandas(score, out_schema)


def _check_method(method: str) -> str:
    if method not in ("hof", "arrow"):
        raise ValueError(f"method must be hof|arrow, got {method!r}")
    return method


def query_id_type(queries: list[tuple]) -> str:
    """``"string" | "long"`` for the query-id column of a list-based
    search's ``[(query_id, vector), ...]`` queries. All ids must be str,
    or all must be int (bools rejected — they'd silently coerce to 0/1;
    numpy scalars rejected — createDataFrame needs plain Python ints):
    a float, mixed, or exotic id fails HERE with the offending id named
    instead of deep inside createDataFrame. The frame-based entry points
    (pq_topk/ivf_pq_topk) inherit the caller's schema; this is the
    list-based equivalent, shared by pq_search and hamming_search.

    DUPLICATE ids are rejected too (round 12): every list form keys
    per-query state — probe rows, analyzed terms, rank windows — by
    query_id, so a duplicate silently merges two queries' candidates
    under one id instead of erroring. One check here covers every
    list-based search."""
    from collections import Counter

    dup = sorted((i for i, n in Counter(q for q, _ in queries).items()
                  if n > 1), key=repr)
    if dup:
        raise ValueError(
            f"duplicate query ids in queries: {dup!r} — each id must "
            f"key exactly one query; re-key or de-duplicate the batch")
    if all(isinstance(q, str) for q, _ in queries):
        return "string"
    for qid, _ in queries:
        if isinstance(qid, bool) or not isinstance(qid, int):
            raise ValueError(
                f"query ids must be all int or all str, got {qid!r} "
                f"({type(qid).__name__})")
    return "long"


def pq_topk(codes: DataFrame, codebooks: list[list[list[float]]],
            queries: DataFrame, k: int = 10,
            id_column: str = "vec_id", code_column: str = "code",
            query_id_column: str = "query_id",
            vector_column: str = "embedding",
            metric: str = "ip", method: str = "hof") -> DataFrame:
    """ADC top-k over a PQ-encoded corpus: per candidate, ``m`` lookups
    into the query's broadcast LUT — the corpus' float vectors are
    never read. Returns (query_id, id, score) with score descending,
    ties to the lowest id; ``ip`` scores approximate dot(q, v), ``l2``
    scores are negated approximate squared distances.

    ``method="hof"`` (default) scans codes ⨯ broadcast-LUTs (a
    broadcast nested-loop over the tiny query set) with a pure-JVM
    aggregate fold, followed by one per-query TakeOrdered-shaped window
    — the same shape as brute_force_topk but reading m ints per row
    instead of dim floats. ``method="arrow"`` (opt-in, never
    auto-selected — the ROADMAP 14 convention) replaces the fold with
    a numpy gather kernel plus per-batch top-k pruning
    (:func:`_adc_scan_arrow`): Spark's HOF evaluator is interpreted per
    element, measured ~17.6 µs/(candidate, query) at sf10, which is
    the difference between minutes and hours on a 1e9-code full scan.
    Results are identical up to last-ULP rounding of the score sum
    (bit-equal in the exact-codebook integer regime).
    """
    if metric not in ("ip", "l2"):
        raise ValueError(f"metric must be ip|l2, got {metric!r}")
    _check_method(method)
    spark = codes.sparkSession
    if method == "arrow":
        lut_rows = _lut_rows(
            codebooks,
            [(r[query_id_column], r[vector_column])
             for r in queries.collect()], metric)
        scored = _adc_scan_arrow(codes, lut_rows, k, id_column,
                                 code_column,
                                 queries.schema[query_id_column])
    else:
        luts = _adc_luts(spark, codebooks, queries, query_id_column,
                         vector_column, metric)
        scored = codes.crossJoin(luts).select(
            query_id_column, id_column,
            _adc_score(code_column).alias("score"))
    w = Window.partitionBy(query_id_column).orderBy(
        F.desc("score"), F.col(id_column))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def _adc_rows_arrow(candidates: DataFrame, lut_rows, query_id_column: str,
                    id_column: str, code_column: str,
                    cluster_column: str | None = None) -> DataFrame:
    """Row-wise numpy ADC for pre-joined (query_id, id, code) candidate
    rows (the IVF-PQ probe output, where each query scores only its own
    probed lists): one gather ``luts[key_idx, arange(m), code_matrix]``
    per Arrow batch. ``lut_rows`` entries are (query_id, lut) keyed by
    query, or — with ``cluster_column`` set, the residual-PQ case —
    ((query_id, cluster), lut) keyed per probed list. Same ULP contract
    as :func:`_adc_scan_arrow`."""
    import numpy as np

    key_cols = ([query_id_column] if cluster_column is None
                else [query_id_column, cluster_column])
    in_df = candidates.select(*key_cols, id_column, code_column)
    out_schema = StructType([
        in_df.schema[query_id_column],
        in_df.schema[id_column],
        StructField("score", DoubleType()),
    ])
    if not lut_rows:
        # empty query set: no candidates can resolve (the probes join
        # is empty too) — return the same empty frame the hof path does
        return candidates.sparkSession.createDataFrame([], out_schema)
    luts = np.asarray([lut for _, lut in lut_rows], dtype=np.float64)
    kidx = {key: i for i, (key, _) in enumerate(lut_rows)}
    m = luts.shape[1]
    jj = np.arange(m)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf[code_column]])
            if cluster_column is None:
                qi = pdf[query_id_column].map(kidx).to_numpy(
                    dtype=np.int64)
            else:
                qi = np.asarray(
                    [kidx[k] for k in zip(pdf[query_id_column],
                                          pdf[cluster_column])],
                    dtype=np.int64)
            s = luts[qi[:, None], jj[None, :], cm].sum(axis=1)
            out = pdf[[query_id_column, id_column]].assign(score=s)
            yield out

    return in_df.mapInPandas(score, out_schema)


def _subtract_coarse(assigned: DataFrame, centroids: list[list[float]],
                     cluster_column: str, vector_column: str,
                     output_column: str) -> DataFrame:
    """vector − assigned coarse centroid, via ONE broadcast centroid
    join + zip_with — the shared residual step of coarse_residuals,
    the residual encode path, and residual IVF-PQ."""
    cent_df = F.broadcast(assigned.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        f"{cluster_column} int, __cent array<double>"))
    return (assigned.join(cent_df, cluster_column)
            .withColumn(output_column,
                        F.zip_with(F.col(vector_column), F.col("__cent"),
                                   lambda x, y: x - y))
            .drop("__cent"))


def coarse_residuals(df: DataFrame, coarse_centroids: list[list[float]],
                     id_column: str = "vec_id",
                     vector_column: str = "embedding",
                     assign_strategy: str = "auto",
                     residual_column: str = "residual") -> DataFrame:
    """(id, cluster, residual) — each vector minus its nearest coarse
    centroid. Feed this to :func:`pq_fit` (``vector_column=residual``)
    to train RESIDUAL codebooks for ``ivf_pq_topk(residual=True)``:
    residuals concentrate near 0 regardless of which list a vector
    lives in, so a fixed codebook budget m*k quantizes them with far
    less error than raw vectors — the standard IVFADC recall boost
    (Jegou TPAMI'11 §IV). One broadcast join, no extra shuffle."""
    from dsgrid_spark.pipeline.similarity import assign_nearest_centroid

    assigned = assign_nearest_centroid(df, coarse_centroids,
                                       vector_column,
                                       strategy=assign_strategy)
    return (_subtract_coarse(assigned, coarse_centroids, "__cluster",
                             vector_column, residual_column)
            .select(F.col(id_column), F.col("__cluster").alias("cluster"),
                    residual_column))


def _residual_lut_rows(codebooks, query_vectors, probe_map, centroids,
                       metric):
    """[((query_id, cluster), m x k lut)] — one ADC table per (query,
    probed list), the residual-PQ scoring shape. ``ip``: dot(q, v) =
    dot(q, c_l) + dot(q, r), so each list's table is the query's
    residual-codebook table with the constant dot(q, c_l) folded into
    subspace 0 (added exactly once by the row-sum). ``l2``:
    ‖q − v‖² = ‖(q − c_l) − r‖², so each list's table is the l2 table
    of the SHIFTED query q − c_l. Table count is Q x n_probe — still
    driver-bounded by construction."""
    out = []
    for qid, qv in query_vectors:
        qv = [float(x) for x in qv]
        if metric == "ip":
            base = _lut_rows(codebooks, [(qid, qv)], "ip")[0][1]
        for cl in probe_map[qid]:
            cent = centroids[cl]
            if metric == "ip":
                const = sum(a * b for a, b in zip(qv, cent))
                lut = ([[x + const for x in base[0]]]
                       + [row[:] for row in base[1:]])
            else:
                shifted = [a - b for a, b in zip(qv, cent)]
                lut = _lut_rows(codebooks, [(qid, shifted)], "l2")[0][1]
            out.append(((qid, cl), lut))
    return out


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame,
                coarse_centroids: list[list[float]],
                codebooks: list[list[list[float]]],
                k: int = 10, n_probe: int = 2,
                id_column: str = "vec_id",
                vector_column: str = "embedding",
                query_id_column: str = "query_id",
                metric: str = "ip",
                assign_strategy: str = "auto",
                method: str = "hof",
                residual: bool = False) -> DataFrame:
    """IVF-PQ: coarse-quantize the corpus into inverted lists
    (``assign_nearest_centroid``, auto literal/data strategy), PQ-encode
    once, then each query ADC-scores ONLY its ``n_probe`` nearest
    lists. The billion-scale recipe: candidate pruning from IVF,
    candidate cost m lookups from PQ — a full scan touches neither all
    rows nor any full vector.

    ``residual=False`` encodes subvectors of the raw vector — the
    IVFFlat+PQ variant: LUTs stay one-per-query instead of
    one-per-(query, probed list), the right trade when n_probe is
    small and lists are many. ``residual=True`` is the paper's IVFADC:
    codes quantize (vector − coarse centroid), which concentrates the
    quantized distribution near 0 and buys recall at the SAME m — the
    price is Q x n_probe LUTs (still driver-bounded) keyed
    (query, list). Pass codebooks trained on :func:`coarse_residuals`
    output; raw-vector codebooks would mis-center every cell. Returns
    (query_id, id, score), score semantics as :func:`pq_topk` (both
    variants approximate the same quantity, so scores are comparable
    across them); ``method`` as :func:`pq_topk` (``arrow`` swaps the
    interpreted-HOF fold for the numpy gather over the probed
    candidates).
    """
    from dsgrid_spark.pipeline.similarity import (
        assign_nearest_centroid, rank_probes,
    )

    if metric not in ("ip", "l2"):
        raise ValueError(f"metric must be ip|l2, got {metric!r}")
    _check_method(method)
    spark = corpus.sparkSession
    # materialize the coarse assignment once: both the encode input and
    # the (id, cluster) join side read it, and without the pin the
    # k-wide argmax would run twice over the corpus
    assigned = (assign_nearest_centroid(corpus, coarse_centroids,
                                        vector_column,
                                        strategy=assign_strategy)
                .select(id_column, vector_column, "__cluster")
                .localCheckpoint())
    if residual:
        enc_in = _subtract_coarse(assigned, coarse_centroids,
                                  "__cluster", vector_column,
                                  "__r").select(id_column, "__r")
        coded = pq_encode(enc_in, codebooks, id_column=id_column,
                          vector_column="__r").join(
            assigned.select(id_column, "__cluster"), id_column)
    else:
        coded = pq_encode(assigned, codebooks, id_column=id_column,
                          vector_column=vector_column).join(
            assigned.select(id_column, "__cluster"), id_column)
    # the probe list per query is driver-computed over the small
    # centroid table (rank_probes: the shared IVF-family ranking)
    probe_rows = []
    probe_map: dict = {}
    qvecs = []
    for r in queries.collect():
        qv = [float(x) for x in r[vector_column]]
        qvecs.append((r[query_id_column], qv))
        ranked = rank_probes(coarse_centroids, qv, n_probe)
        probe_map[r[query_id_column]] = ranked
        for ci in ranked:
            probe_rows.append((r[query_id_column], ci))
    probes = F.broadcast(_osdf(spark, 
        probe_rows, StructType([queries.schema[query_id_column],
                                StructField("__cluster", IntegerType())])))
    candidates = coded.join(probes, "__cluster")
    if residual:
        lut_rows = _residual_lut_rows(codebooks, qvecs, probe_map,
                                      coarse_centroids, metric)
        if method == "arrow":
            scored = _adc_rows_arrow(candidates, lut_rows,
                                     query_id_column, id_column, "code",
                                     cluster_column="__cluster")
        else:
            schema = StructType([
                queries.schema[query_id_column],
                StructField("__cluster", IntegerType()),
                StructField("__lut", ArrayType(ArrayType(DoubleType()))),
            ])
            luts = F.broadcast(_osdf(spark, 
                [(qid, cl, lut) for (qid, cl), lut in lut_rows], schema))
            scored = (
                candidates.join(luts, [query_id_column, "__cluster"])
                .select(query_id_column, id_column,
                        _adc_score("code").alias("score"))
            )
    elif method == "arrow":
        lut_rows = _lut_rows(codebooks, qvecs, metric)
        scored = _adc_rows_arrow(candidates, lut_rows, query_id_column,
                                 id_column, "code")
    else:
        luts = _adc_luts(spark, codebooks, queries, query_id_column,
                         vector_column, metric)
        scored = (
            candidates.join(luts, query_id_column)
            .select(query_id_column, id_column,
                    _adc_score("code").alias("score"))
        )
    w = Window.partitionBy(query_id_column).orderBy(
        F.desc("score"), F.col(id_column))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


# ---------------------------------------------------------------------------
# Persisted PQ index: the storage half of the PQ argument. In-memory
# ivf_pq_topk re-encodes the corpus per call; a real 1e9-vector
# deployment encodes ONCE and every search reads m small ints per
# candidate instead of dim floats — write_pq_index/pq_search realize
# that on disk. Layout (all per-index-path):
#
#   meta/        one row: (dim, m, k, dsub, store_vectors)
#   centroids/   (cluster int, centroid array<double>)   coarse lists
#   codebooks/   (j int, i int, centroid array<double>)  m*k rows
#   codes/cluster=K/batch=B/    (id, code array<int>)    the scan payload
#   vectors/cluster=K/batch=B/  (id, embedding)          re-rank only
#   batches/ + intents/         indexlog exactly-once machinery
#
# codes/ and vectors/ are SEPARATE subtrees (not columns of one table)
# so the ADC scan never lists a single vector file: at 1e9 x 768-dim
# float64, codes at m=16 are ~20 GB where vectors are ~6 TB — the scan
# payload ratio the module docstring promises, now true for bytes read
# off disk, not just rows in memory. Appends and searches share
# pipeline/indexlog.py with the IVF/term indexes: batch-scoped
# partition dirs, log-commit-last, reader isolation via committed-batch
# partition pruning.
# ---------------------------------------------------------------------------


def _codebooks_to_rows(codebooks):
    return [(j, i, [float(x) for x in c])
            for j, cb in enumerate(codebooks) for i, c in enumerate(cb)]


def codebook_generations(spark, path: str) -> set[str]:
    """Batch ids with a generation-scoped codebook table
    (``codebooks/batch=<establisher>`` directory names). Empty for the
    flat pre-retrain layout — the common case."""
    return {st.name.split("=", 1)[1]
            for st in filesystem_for(spark, path).glob(
                f"{path}/codebooks/batch=*")}


def _flat_codebook_files(spark, path: str) -> list[str]:
    """Root-level DATA files of the legacy flat ``codebooks/`` layout
    — ``batch=`` partition dirs and ``_``/``.``-prefixed side entries
    (``_SUCCESS``, in-flight ``_tmp`` gen writes) excluded."""
    return [st.path for st in filesystem_for(spark, path).glob(
                f"{path}/codebooks/*")
            if not st.name.startswith(("batch=", "_", "."))]


def _read_codebooks(spark, path: str,
                    gen: str | None = None) -> list[list[list[float]]]:
    """Codebook table for one centroid GENERATION. Pre-retrain indexes
    keep the flat ``codebooks/`` layout — ONE codebook shared by every
    generation (coarse-only rebalances re-encode against it). Once a
    ``retrain_codebooks`` rebalance runs, codebooks live under
    ``codebooks/batch=<establisher>`` — the same atomic-flip unit as
    the centroids — and each generation reads the codebooks its codes
    were encoded with (pinned readers included). The gen-scoped
    directory is read DIRECTLY, never via root-level partition
    discovery, so flat files and batch dirs can never collide.

    FLAT FILES WIN when both layouts are present: the retrain deletes
    them only AFTER both gen-scoped copies are verified complete
    (``rebalance._rebalance_locked``), so their presence proves no
    retrain has ever committed — they ARE every committed generation's
    books, and a crashed retrain's partial ``batch=`` dir (rewritten
    from these files on the retry) can never be read as authoritative.
    """
    fs = filesystem_for(spark, path)
    flat = _flat_codebook_files(spark, path)
    if flat:
        # exactly these files are read: the flat-files-win contract
        rows = [r for f in flat for r in fs.read_rows(f)]
    else:
        marked = codebook_generations(spark, path)
        if not marked:
            raise ValueError(f"no codebook table at {path!r}")
        if gen not in marked:
            raise ValueError(
                f"no codebook table for generation {gen!r} at {path!r} "
                f"(found {sorted(marked)}): purged generation, or a "
                f"view predating the generation-scoped codebook layout")
        rows = fs.read_rows(f"{path}/codebooks/batch={gen}")
    m = max(r["j"] for r in rows) + 1
    k = max(r["i"] for r in rows) + 1
    books = [[None] * k for _ in range(m)]
    for r in rows:
        books[r["j"]][r["i"]] = list(r["centroid"])
    return books


def _read_centroids(spark, path: str,
                    gen: str | None = None) -> list[list[float]]:
    """Coarse centroid table, for one GENERATION when the index uses
    the ``centroids/batch=<establisher>`` layout (``gen`` from
    :func:`indexlog.resolve_generation`; ``None`` = the legacy flat
    layout's single implicit generation). The gen-scoped directory is
    read DIRECTLY — never via root-level partition discovery — so a
    legacy index mid-migration (flat files still next to the first
    ``batch=`` dir, see ``rebalance._migrate_flat_centroids``) stays
    readable throughout."""
    cdir = (f"{path}/centroids/batch={gen}" if gen is not None
            else f"{path}/centroids")
    try:
        rows = sorted(filesystem_for(spark, path).read_rows(cdir),
                      key=lambda r: r["cluster"])
    except Exception:
        rows = []
    if not rows:
        raise ValueError(
            f"no centroid rows for generation {gen!r} at {path!r} "
            f"(purged generation, or a half-built index)")
    return [list(r["centroid"]) for r in rows]


def _read_meta(spark, path: str) -> dict:
    return filesystem_for(spark, path).read_rows(f"{path}/meta")[0]


def _assign_encode(df, centroids, codebooks, id_column, vector_column,
                   assign_strategy, batch_id, residual=False):
    """(codes, vectors) frames for one batch, both carrying
    (cluster, batch) partition columns; the coarse assignment is
    localCheckpointed because both outputs read it. ``residual``
    encodes (vector − coarse centroid) instead of the raw vector —
    the IVFADC layout; the stored VECTORS stay raw either way (the
    re-rank wants the true vector)."""
    from dsgrid_spark.pipeline.similarity import assign_nearest_centroid

    assigned = (
        assign_nearest_centroid(df, centroids, vector_column,
                                strategy=assign_strategy)
        .withColumnRenamed("__cluster", "cluster")
        .select(F.col(id_column).alias("id"),
                F.col(vector_column).alias("embedding"), "cluster")
        .localCheckpoint())
    if residual:
        enc_in = (_subtract_coarse(assigned, centroids, "cluster",
                                   "embedding", "__r")
                  .select("id", F.col("__r").alias("embedding")))
    else:
        enc_in = assigned
    codes = (pq_encode(enc_in, codebooks, id_column="id",
                       vector_column="embedding")
             .join(assigned.select("id", "cluster"), "id")
             .withColumn("batch", F.lit(batch_id)))
    vectors = assigned.withColumn("batch", F.lit(batch_id))
    return codes, vectors


VECTOR_DTYPES = ("float64", "int8")


def _check_vectors_dtype(dtype: str, store_vectors: bool) -> str:
    if dtype not in VECTOR_DTYPES:
        raise ValueError(f"vectors_dtype must be one of {VECTOR_DTYPES},"
                         f" got {dtype!r}")
    if dtype != "float64" and not store_vectors:
        raise ValueError("vectors_dtype is the re-rank payload's type; "
                         "it needs store_vectors=True")
    return dtype


def _vectors_for_store(vframe: DataFrame, dtype: str) -> DataFrame:
    """The re-rank payload rows for one batch: raw float64 embeddings,
    or the int8 tier — per-vector symmetric quantization
    (:func:`similarity.quantize_embeddings`, scale = max_abs/127)
    stored as (qvec array<tinyint>, qscale). 8x fewer payload bytes
    per dimension; the search dequantizes with one array transform."""
    if dtype == "float64":
        return vframe
    from dsgrid_spark.pipeline.similarity import quantize_embeddings

    q = quantize_embeddings(vframe, "embedding", bits=8,
                            output_column="qvec",
                            scale_column="qscale")
    return q.select(
        "id",
        F.transform(F.col("qvec"),
                    lambda x: x.cast("tinyint")).alias("qvec"),
        "qscale", "cluster", "batch")


def _rerank_embedding(vectors: DataFrame, dtype: str) -> DataFrame:
    """(id, embedding array<double>) for the exact re-rank,
    dequantizing the int8 tier (embedding ≈ qvec · qscale; for cosine
    the scale cancels entirely, for ip/l2 it is the per-vector unit)."""
    if dtype == "float64":
        return vectors.select("id", "embedding")
    return vectors.select(
        "id",
        F.transform(F.col("qvec"),
                    lambda x: x.cast("double") * F.col("qscale"))
        .alias("embedding"))


def write_pq_index(df: DataFrame, path: str,
                   coarse_centroids: list[list[float]],
                   codebooks: list[list[list[float]]],
                   id_column: str = "vec_id",
                   vector_column: str = "embedding",
                   store_vectors: bool = True,
                   assign_strategy: str = "auto",
                   residual: bool = False,
                   vectors_dtype: str = "float64") -> None:
    """Build a persisted IVF-PQ index: assign each vector to its
    nearest coarse centroid, PQ-encode ONCE, and write codes (and,
    with ``store_vectors``, the originals for exact re-ranking)
    partitioned by cluster — a search then reads only its probed
    clusters' CODE partitions (Spark partition pruning) and, when
    re-ranking, only the shortlist's vectors (id-pushdown scan).

    ``store_vectors=False`` builds a codes-only index (12–24x smaller
    on disk at production m); searches are then ADC-only
    (``rerank`` unavailable). ``residual=True`` stores IVFADC codes
    (quantized vector − coarse centroid; pass codebooks trained on
    :func:`coarse_residuals` output) — the flag rides the meta row, so
    appends encode and searches score consistently without the caller
    restating it. ``vectors_dtype="int8"`` stores the re-rank payload
    per-vector-quantized (8x fewer bytes per dimension than float64) —
    re-ranked scores are then the quantized vectors' exact scores, i.e.
    within per-coordinate rounding (≤ max_abs/254) of the float
    originals; rank flips are possible only between near-ties. Both
    knobs ride the meta row. The commit sequence is
    :func:`indexlog.build_index`.
    """
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.similarity import (_check_vector_dim,
                                                  write_centroid_generation)

    if not coarse_centroids:
        raise ValueError("coarse_centroids must be non-empty")
    _check_vectors_dtype(vectors_dtype, store_vectors)
    m, k, dsub = _check_codebooks(codebooks)
    dim = len(coarse_centroids[0])
    if dim != m * dsub:
        raise ValueError(f"coarse centroid dim {dim} != codebook "
                         f"m*dsub {m * dsub}")
    _check_vector_dim(df, vector_column, dim, build=True)
    spark = df.sparkSession
    fs = filesystem_for(spark, path)

    def write(batch_id: str) -> None:
        codes, vectors = _assign_encode(df, coarse_centroids, codebooks,
                                        id_column, vector_column,
                                        assign_strategy, batch_id,
                                        residual=residual)
        (codes.repartition("cluster")
           .write.mode("overwrite").partitionBy("cluster", "batch")
           .parquet(f"{path}/codes"))
        if store_vectors:
            (_vectors_for_store(vectors, vectors_dtype)
               .repartition("cluster")
               .write.mode("overwrite").partitionBy("cluster", "batch")
               .parquet(f"{path}/vectors"))
        else:
            # a rebuild DOWN from store_vectors=True must reclaim the old
            # full-precision subtree (the dominant payload): meta now
            # says no vectors, so nothing would ever read OR vacuum it
            fs.glob_delete(f"{path}/vectors")
        write_centroid_generation(spark, path, coarse_centroids, batch_id)
        fs.write_rows(f"{path}/codebooks", _codebooks_to_rows(codebooks),
                      "j int, i int, centroid array<double>")
        fs.write_rows(f"{path}/meta",
                      [(dim, m, k, dsub, bool(store_vectors),
                        bool(residual), vectors_dtype)],
                      "dim int, m int, k int, dsub int, store_vectors "
                      "boolean, residual boolean, vectors_dtype string")

    indexlog.build_index(spark, path, write)


def append_pq_index(df: DataFrame, path: str,
                    id_column: str = "vec_id",
                    vector_column: str = "embedding",
                    batch_id: str | None = None,
                    assign_strategy: str = "auto") -> bool:
    """Append a vector batch to a persisted PQ index, exactly-once per
    ``batch_id`` (:func:`indexlog.append_batch`). Assignment and
    encoding use the INDEX'S OWN centroids and codebooks — never
    caller-supplied, which would desync probes from partitions.
    Codebooks are not re-trained (the standard PQ maintenance trade;
    rebuild when the distribution drifts). Equal to a fresh build over
    the concatenated corpus with the same centroids/codebooks (tested).
    Returns True when ingested, False for a replayed id.
    """
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.similarity import _check_vector_dim

    spark = df.sparkSession

    def write(batch_id: str, gen: str | None) -> None:
        meta = _read_meta(spark, path)
        _check_vector_dim(df, vector_column, meta["dim"], build=False)
        codes, vectors = _assign_encode(
            df, _read_centroids(spark, path, gen),
            _read_codebooks(spark, path, gen), id_column, vector_column,
            assign_strategy, batch_id,
            residual=bool(meta.get("residual", False)))
        (codes.repartition("cluster")
           .write.mode("append").partitionBy("cluster", "batch")
           .parquet(f"{path}/codes"))
        if meta["store_vectors"]:
            (_vectors_for_store(vectors,
                                meta.get("vectors_dtype") or "float64")
               .repartition("cluster")
               .write.mode("append").partitionBy("cluster", "batch")
               .parquet(f"{path}/vectors"))

    return indexlog.append_batch(spark, path, batch_id, write)


def pq_search(spark, path: str, queries, k: int = 10,
              n_probe: int = 2, shortlist: int | None = None,
              rerank: bool | None = None, metric: str = "ip",
              method: str = "hof", candidates=None,
              as_of=None,
              query_id_column: str = "query_id",
              vector_column: str = "embedding") -> DataFrame:
    """Search a persisted PQ index: coarse probe ranking driver-side on
    the tiny centroid table, ADC over the probed clusters' CODE
    partitions only (partition-pruned, committed-batch filtered), then
    — when the index stores vectors — an exact re-rank that reads ONLY
    the shortlist's vectors (an isin-pushdown scan of Q x shortlist
    ids, bounded by construction).

    ``queries`` is a small [(query_id, vector), ...] list (the
    ivf_search convention) — or a DataFrame of (``query_id_column``,
    ``vector_column``) for OFFLINE EVAL SWEEPS too large to collect:
    ADC lookup tables are then built as column EXPRESSIONS per
    (query, probed list) from the broadcast codebook row (residual
    and plain modes both), probe ranking runs distributed
    (:func:`similarity.probe_clusters_df`), and the exact re-rank is
    a JOIN of the shortlist against the vector payload — no driver
    collect anywhere; ``method`` is ignored (the expression path IS
    the scorer) and cluster partitions are not pruned (a large query
    set probes most lists; one pass for the whole set).
    ``shortlist`` is the ADC candidate count
    per query fed to the re-rank (default 4k, floored at k);
    ``rerank=None`` re-ranks exactly when the index stores vectors.
    Returns (query_id, id, score): re-ranked scores are EXACT
    (dot(q, v) for ``ip``, −‖q−v‖² for ``l2``); ADC-only scores are
    the LUT approximations, as :func:`pq_topk`. ``method`` as
    :func:`pq_topk`. An index built with ``residual=True`` is scored
    with per-(query, probed-list) IVFADC tables automatically — the
    flag rides the meta row, callers never restate it. ``candidates``
    (id list or DataFrame, :func:`similarity.candidate_filter`)
    restricts the ADC scan to a metadata-selected subset BEFORE the
    shortlist window — filtered ANN, filter-then-top-k (selective
    filters lose no shortlist depth to non-candidates). Probe caveat
    as :func:`similarity.ivf_search`: candidates outside the probed
    clusters are unreachable; selective filters want wider ``n_probe``.
    ``as_of`` pins the read to a captured batch set
    (indexlog.resolve_as_of): reproducible results through appends and
    compactions.
    """
    from dsgrid_spark.pipeline import indexlog

    if not isinstance(queries, DataFrame) and not queries:
        raise ValueError("queries must be non-empty")
    if metric not in ("ip", "l2"):
        raise ValueError(f"metric must be ip|l2, got {metric!r}")
    _check_method(method)
    meta = _read_meta(spark, path)
    if rerank is None:
        rerank = bool(meta["store_vectors"])
    if rerank and not meta["store_vectors"]:
        raise ValueError("index was built with store_vectors=False; "
                         "pass rerank=False for ADC-only search")
    from dsgrid_spark.pipeline.similarity import rank_probes

    committed = indexlog.resolve_batches(spark, path, as_of)
    gen = indexlog.resolve_generation(
        spark, path, committed, validate_pin=as_of is not None)
    centroids = _read_centroids(spark, path, gen)
    codebooks = _read_codebooks(spark, path, gen)
    if isinstance(queries, DataFrame):
        return _pq_search_df(spark, path, queries, k, n_probe,
                             shortlist, rerank, metric, candidates,
                             committed, centroids, codebooks, meta,
                             query_id_column, vector_column)
    qid_type = query_id_type(queries)
    probe_rows, lut_queries = [], []
    for qid, qv in queries:
        qv = [float(x) for x in qv]
        if len(qv) != meta["dim"]:
            raise ValueError(f"query dim {len(qv)} != index dim "
                             f"{meta['dim']}")
        lut_queries.append((qid, qv))
        for ci in rank_probes(centroids, qv, n_probe):
            probe_rows.append((qid, ci))
    probed_clusters = sorted({c for _, c in probe_rows})
    probes = F.broadcast(_osdf(spark,
        probe_rows, f"query_id {qid_type}, cluster int"))
    from dsgrid_spark.pipeline.similarity import candidate_filter
    codes = candidate_filter(
        indexlog.read_committed(spark, path, "codes", ids=committed)
        .filter(F.col("cluster").isin(probed_clusters)),
        candidates)
    # (the scan-restricted candidate rows; shadows the caller's filter
    # spec, which is fully consumed by candidate_filter above)
    candidates = codes.join(probes, "cluster")
    if meta.get("residual", False):
        # IVFADC codes: per-(query, probed list) tables, keyed on both
        # columns (the in-memory ivf_pq_topk(residual=True) shape)
        probe_map: dict = {}
        for qid, cl in probe_rows:
            probe_map.setdefault(qid, []).append(cl)
        lut_rows = _residual_lut_rows(codebooks, lut_queries, probe_map,
                                      centroids, metric)
        if method == "arrow":
            scored = _adc_rows_arrow(candidates, lut_rows, "query_id",
                                     "id", "code", cluster_column="cluster")
        else:
            schema = StructType([
                StructField("query_id",
                            candidates.schema["query_id"].dataType),
                StructField("cluster", IntegerType()),
                StructField("__lut", ArrayType(ArrayType(DoubleType()))),
            ])
            luts = F.broadcast(_osdf(spark, 
                [(qid, cl, lut) for (qid, cl), lut in lut_rows], schema))
            scored = (candidates.join(luts, ["query_id", "cluster"])
                      .select("query_id", "id",
                              _adc_score("code").alias("score")))
    else:
        lut_rows = _lut_rows(codebooks, lut_queries, metric)
        if method == "arrow":
            scored = _adc_rows_arrow(candidates, lut_rows, "query_id",
                                     "id", "code")
        else:
            schema = StructType([
                StructField("query_id",
                            candidates.schema["query_id"].dataType),
                StructField("__lut", ArrayType(ArrayType(DoubleType()))),
            ])
            luts = F.broadcast(_osdf(spark, lut_rows, schema))
            scored = (candidates.join(luts, "query_id")
                      .select("query_id", "id",
                              _adc_score("code").alias("score")))
    n_short = k if not rerank else max(k, shortlist or 4 * k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.col("id"))
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
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("__qv"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    exact = dot if metric == "ip" else -_l2sq(F.col("embedding"),
                                              F.col("__qv"))
    rescored = (vectors.join(pair_df, "id").join(qvec, "query_id")
                .select("query_id", "id", exact.alias("score")))
    return (rescored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def _pq_search_df(spark, path: str, queries: DataFrame, k: int,
                  n_probe: int, shortlist: int | None, rerank: bool,
                  metric: str, candidates, committed: set[str],
                  centroids: list[list[float]],
                  codebooks: list[list[list[float]]], meta: dict,
                  query_id_column: str, vector_column: str) -> DataFrame:
    """The DataFrame-query form of :func:`pq_search` (see its
    docstring): ADC lookup tables as column expressions over the
    broadcast codebook row — lut[j][i] is the same ip / negative-L2²
    value :func:`_lut_rows` computes driver-side, built per
    (query, probed list) so residual (IVFADC) codes score against the
    list-shifted query exactly like the list form."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.similarity import (
        candidate_filter, probe_clusters_df,
    )

    first = queries.select(vector_column).first()
    if first is not None and first[0] is not None \
            and len(first[0]) != meta["dim"]:
        raise ValueError(f"query dim {len(first[0])} != index dim "
                         f"{meta['dim']}")
    m, _, dsub = _check_codebooks(codebooks)
    q = queries.select(F.col(query_id_column).alias("query_id"),
                       F.col(vector_column).cast("array<double>")
                       .alias("__qv"))
    probes = probe_clusters_df(q, centroids, n_probe,
                               vector_column="__qv", keep=("__qv",))
    # adaptive pruning (similarity.prune_to_probed_clusters): a small
    # sweep's probed-cluster union becomes a partition filter on the
    # code read; saturated unions skip it (the one-pass regime)
    from dsgrid_spark.pipeline.similarity import prune_to_probed_clusters
    probes, pruned_codes = prune_to_probed_clusters(
        indexlog.read_committed(spark, path, "codes", ids=committed),
        probes, len(centroids))
    # residual (IVFADC) scoring mirrors _residual_lut_rows exactly:
    # ip  — dot(q, v) = dot(q, c_l) + dot(q, r): the RAW query's
    #       residual-codebook table plus the per-list constant
    #       dot(q, c_l) folded into subspace 0 (added once by the
    #       row-sum);
    # l2  — ||q − v||² = ||(q − c_l) − r||²: the l2 table of the
    #       SHIFTED query q − c_l, no constant.
    probes = probes.withColumn("__const", F.lit(0.0))
    if meta.get("residual", False):
        cent = F.broadcast(_osdf(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cluster int, __cent array<double>"))
        probes = probes.join(cent, "cluster")
        if metric == "l2":
            probes = probes.withColumn(
                "__qeff", F.zip_with(F.col("__qv"), F.col("__cent"),
                                     lambda x, y: x - y))
        else:
            probes = (probes
                      .withColumn("__qeff", F.col("__qv"))
                      .withColumn("__const", F.aggregate(
                          F.zip_with(F.col("__qv"), F.col("__cent"),
                                     lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)))
        probes = probes.drop("__cent")
    else:
        probes = probes.withColumn("__qeff", F.col("__qv"))

    def sub_score(j, c):
        qj = F.slice(F.col("__qeff"), j * F.lit(dsub) + 1, dsub)
        if metric == "ip":
            base = F.aggregate(F.zip_with(qj, c, lambda a, b: a * b),
                               F.lit(0.0), lambda acc, x: acc + x)
            return base + F.when(j == F.lit(0),
                                 F.col("__const")).otherwise(F.lit(0.0))
        return -F.aggregate(
            F.zip_with(qj, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    luts = (probes.crossJoin(_codebook_row(spark, codebooks))
            .withColumn("__lut", F.transform(
                F.col("__cbs"),
                lambda cbj, j: F.transform(cbj,
                                           lambda c: sub_score(j, c))))
            .select("query_id", "cluster", "__qv", "__lut"))
    codes = candidate_filter(pruned_codes, candidates)
    scored = codes.join(luts, "cluster").select(
        "query_id", "id", _adc_score("code").alias("score"))
    n_short = k if not rerank else max(k, shortlist or 4 * k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.col("id"))
    short = (scored.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= n_short).drop("__rn"))
    if not rerank:
        return short
    vectors = _rerank_embedding(
        indexlog.read_committed(spark, path, "vectors", ids=committed),
        meta.get("vectors_dtype") or "float64")
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("__qv"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    exact = dot if metric == "ip" else -_l2sq(F.col("embedding"),
                                              F.col("__qv"))
    rescored = (short.select("query_id", "id")
                .join(vectors, "id").join(q, "query_id")
                .select("query_id", "id", exact.alias("score")))
    return (rescored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))
