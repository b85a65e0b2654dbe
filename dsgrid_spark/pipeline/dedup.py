"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup is a hash-groupBy (one shuffle on a 64-bit key);
- MinHash/LSH shuffles only (band_hash → doc ids) pairs — bytes per doc,
  not the documents themselves;
- candidate verification joins back to shingle sets only for candidate
  pairs (tiny compared to the corpus).

Everything below is built from JVM array/higher-order functions; no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructField, StructType

from dsgrid_spark.pipeline.text import fingerprint

# Mersenne prime 2^31-1 for universal hashing: keeps x*a within a signed
# 64-bit long (Spark 4 runs ANSI mode; overflow would error, not wrap)
_MERSENNE = (1 << 31) - 1


def _normalized(text_column: str):
    t = F.lower(F.col(text_column))
    t = F.regexp_replace(t, r"[^\w\s]", "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# The hot expression builders below each have two twins: a Column-API
# form (the original, kept for the parity tests) and a SQL-string form
# parsed by the JVM in ONE py4j round trip. Building these trees
# through the Column API costs hundreds of py4j round trips per call
# (every lit/lambda/function is a blocking socket exchange — r12
# cProfile: 4,744 round trips for one q30 'store' construction, ~9 s
# of recv_into inside a 10.6 s wall), while the parsed string yields a
# semantically identical expression in milliseconds. All-integer/string
# ops, so value equality is exact — pinned by
# tests/test_opt_r12.py::test_dedup_sql_twins_match_column_api.
def _normalized_sql(text_column: str) -> str:
    return (f"trim(regexp_replace(regexp_replace(lower(`{text_column}`), "
            f"'[^\\\\w\\\\s]', ''), '\\\\s+', ' '))")


def _shingles_sql(text_column: str, k: int = 5) -> str:
    words = f"split({_normalized_sql(text_column)}, ' ')"
    grams = (f"transform(sequence(0, greatest(size({words}) - {k}, 0)), "
             f"i -> concat_ws(' ', slice({words}, i + 1, {k})))")
    return (f"CASE WHEN size({words}) >= {k} THEN array_distinct({grams}) "
            f"ELSE array(concat_ws(' ', {words})) END")


def _shingles_column_api(text_column: str, k: int = 5) -> "F.Column":
    words = F.split(_normalized(text_column), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", words))
    )


def shingles(text_column: str, k: int = 5) -> "F.Column":
    """Word k-gram shingle array (distinct), JVM-side via transform/slice."""
    return F.expr(_shingles_sql(text_column, k))


def exact_dedup(df: DataFrame, text_column: str = "text",
                id_column: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text hash.

    Hash-groupBy on xxhash64(normalized text) with ``min_by`` over the
    full row: unlike a row_number window (which shuffles every row),
    this gets map-side partial aggregation — on a duplicate-heavy corpus
    only one candidate row per (partition, hash) reaches the shuffle.
    """
    h = fingerprint(F.col(text_column))
    cols = df.columns
    return (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min_by(F.struct(*cols), F.col(id_column)).alias("__r"))
        .select("__r.*")
    )


def minhash_signatures(df: DataFrame, text_column: str = "text",
                       num_hashes: int = 32, shingle_k: int = 5,
                       seed: int = 42) -> DataFrame:
    """Add a ``minhash`` array column: per-permutation min over shingle hashes.

    Universal hashing h_i(x) = (a_i*x + b_i) mod p over xxhash64 shingle
    hashes; computed with transform+array_min entirely in the JVM.
    """
    return df.withColumn(
        "minhash", F.expr(_minhash_sql(text_column, num_hashes,
                                       shingle_k, seed)))


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
            for _ in range(num_hashes)]


def _minhash_sql(text_column: str, num_hashes: int = 32,
                 shingle_k: int = 5, seed: int = 42) -> str:
    # ONE fold over the shingle hashes, updating all permutation minima
    # per element — N separate array_min(transform(...)) expressions would
    # re-inline (and re-evaluate) the whole shingle construction N times
    # per row after Catalyst's projection collapse. The coefficients live
    # in two constant-folded array literals walked by zip_with, keeping
    # the generated code O(1) in num_hashes instead of inlining N
    # (x*a_i+b_i) subtrees into the fold body (codegen size, not
    # arithmetic, dominated the old plan).
    coeffs = _minhash_coeffs(num_hashes, seed)
    a_arr = "array(%s)" % ", ".join(
        f"CAST({a} AS BIGINT)" for a, _ in coeffs)
    b_arr = "array(%s)" % ", ".join(
        f"CAST({b} AS BIGINT)" for _, b in coeffs)
    hashes = (f"transform({_shingles_sql(text_column, shingle_k)}, "
              f"s -> abs(xxhash64(s)) % {_MERSENNE})")
    return (f"aggregate({hashes}, "
            f"array_repeat(CAST({_MERSENNE} AS BIGINT), {num_hashes}), "
            f"(acc, x) -> zip_with(acc, zip_with({a_arr}, {b_arr}, "
            f"(a, b) -> (x * a + b) % {_MERSENNE}), "
            f"(cur, new) -> least(cur, new)))")


def _minhash_column_api(df: DataFrame, text_column: str = "text",
                        num_hashes: int = 32, shingle_k: int = 5,
                        seed: int = 42) -> DataFrame:
    """Column-API twin of :func:`minhash_signatures` (parity tests)."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    sh = _shingles_column_api(text_column, shingle_k)
    hashes = F.transform(sh, lambda s: F.abs(F.xxhash64(s)) % _MERSENNE)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in coeffs])
    init = F.array_repeat(F.lit(_MERSENNE).cast("long"), num_hashes)
    sig = F.aggregate(
        hashes, init,
        lambda acc, x: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (x * a + b) % _MERSENNE),
            lambda cur, new: F.least(cur, new),
        ),
    )
    return df.withColumn("minhash", sig)


def band_signatures(df: DataFrame, id_column: str = "doc_id",
                    num_bands: int = 4,
                    signature_length: int | None = None) -> DataFrame:
    """Band minhash signatures → (id, band, band_hash) rows.

    The band hash comes from a slice of the signature (one slice + one
    cast per band) rather than rows_per_band indexed element references —
    keeps generated code small at high band counts. Both sides of any
    bucket join must band identically (same num_bands / signature
    length / hash seed) for buckets to line up.
    """
    if signature_length is not None:
        # static fast path: slice bounds fold to constants
        rpb = str(signature_length // num_bands or 1)
    else:
        # derive per-row from the array itself (VERDICT r4 item 5: the
        # old default probed one row with limit(1).collect() — an extra
        # Spark job per call). Signatures in one table share a length, so
        # this is the same number, computed inside the projection for
        # free instead of via a job.
        rpb = f"greatest(CAST(floor(size(`minhash`) / {num_bands}) AS INT), 1)"
    # the whole per-band hash array as ONE parsed SQL expression (see the
    # SQL-twin note above _normalized_sql)
    bands_sql = "array(%s)" % ", ".join(
        f"xxhash64(concat_ws(',', transform("
        f"slice(`minhash`, {b} * {rpb} + 1, {rpb}), "
        f"x -> CAST(x AS STRING))))" for b in range(num_bands))
    out = df.select(
        F.col(id_column),
        F.posexplode(F.expr(bands_sql)).alias("band", "band_hash"),
    )
    # stamp the banding params as column metadata (survives persist /
    # select / filter) so downstream consumers of a precomputed band
    # table can validate it was built with MATCHING params — a band
    # table banded differently produces silently wrong candidate pairs
    return out.withMetadata("band", {
        "num_bands": num_bands,
        "signature_length": -1 if signature_length is None
        else signature_length,
    })


def _check_band_table(bands: DataFrame, num_bands: int,
                      signature_length: int | None,
                      param: str) -> None:
    """Raise when a caller-supplied band table carries metadata (stamped
    by :func:`band_signatures`) that contradicts the banding params of
    the current call. Metadata-only — no Spark job. Tables without the
    stamp (hand-built) pass unchecked."""
    try:
        meta = bands.schema["band"].metadata or {}
    except (KeyError, TypeError):
        raise ValueError(
            f"{param}: supplied band table has no 'band' column — expected "
            "the (id, band, band_hash) output of band_signatures()")
    if not meta:
        return
    nb = meta.get("num_bands")
    if nb is not None and int(nb) != num_bands:
        raise ValueError(
            f"{param}: band table was built with num_bands={int(nb)} but "
            f"this call uses num_bands={num_bands} — buckets cannot line "
            "up; reband with matching params")
    sl = meta.get("signature_length")
    if (sl is not None and int(sl) != -1 and signature_length is not None
            and int(sl) != signature_length):
        raise ValueError(
            f"{param}: band table was built with signature_length={int(sl)} "
            f"but this call uses signature_length={signature_length}")


def lsh_candidate_pairs(df: DataFrame, id_column: str = "doc_id",
                        num_bands: int = 4,
                        max_bucket_size: int | None = None,
                        signature_length: int | None = None,
                        bands: DataFrame | None = None) -> DataFrame:
    """Band the minhash signatures and self-join buckets → candidate pairs.

    Only (band_id, band_hash, doc_id) rows shuffle. Returns distinct
    (id_a, id_b) with id_a < id_b.

    ``max_bucket_size`` bounds the within-bucket O(b²) self-join on a
    pathological corpus (one low-entropy bucket attracting thousands of
    docs): oversized buckets are skipped. Recall degrades gracefully —
    a true near-dup pair agrees on many bands, so it still surfaces
    through its non-hot buckets. Leave None when the corpus has already
    been exact-deduped (minhash_dedup does this) and band count is
    healthy; set it (e.g. 10_000) for web-scale crawls with boilerplate.
    """
    if bands is None:
        bands = band_signatures(df, id_column, num_bands, signature_length)
        # materialize once: the signature expression tree is expensive and
        # the self-join would otherwise evaluate it twice. count() forces
        # the cache to fill before the join's two branches scan it
        # concurrently.
        bands = bands.persist()
        bands.count()
    else:
        # caller supplies an ALREADY-PERSISTED (id, band, band_hash)
        # table from band_signatures — the q30 pattern where one banding
        # pass feeds the full-corpus self-join and the incremental calls
        _check_band_table(bands, num_bands, signature_length, "bands")
    if max_bucket_size is not None:
        ok = (
            bands.groupBy("band", "band_hash").count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band", "band_hash")
        )
        bands = bands.join(ok, ["band", "band_hash"], "left_semi")
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_column}") < F.col(f"r.{id_column}")),
        )
        .select(
            F.col(f"l.{id_column}").alias("id_a"),
            F.col(f"r.{id_column}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_column: str = "text",
                        id_column: str = "doc_id", shingle_k: int = 5,
                        threshold: float = 0.8,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (or all pairs if None).

    With ``candidates`` from LSH this verifies only the near-miss set;
    without it, it is O(n²) — only for small n or testing.
    """
    base = df
    if candidates is not None:
        # only candidate docs need shingles: on a big corpus the LSH
        # candidate set is a tiny fraction of the documents, so shingling
        # everything would dominate the verify cost
        ids = (candidates.select(F.col("id_a").alias(id_column))
               .union(candidates.select(F.col("id_b").alias(id_column)))
               .distinct())
        base = df.join(ids, id_column, "left_semi")
    # NOTE: no ensure_min_partitions here — the candidate set is already
    # pruned to a small fraction of the corpus by LSH, and an extra
    # Exchange per verify call measured slower than the single-threaded
    # shingle pass it parallelized (sf0.1: +1.5 s across q30's 4 verify
    # calls).
    sh = base.select(
        F.col(id_column), shingles(text_column, shingle_k).alias("__sh")
    )
    if candidates is None:
        a, b = sh.alias("a"), sh.alias("b")
        pairs = a.join(b, F.col(f"a.{id_column}") < F.col(f"b.{id_column}"))
        pairs = pairs.select(
            F.col(f"a.{id_column}").alias("id_a"),
            F.col(f"b.{id_column}").alias("id_b"),
            F.col("a.__sh").alias("sh_a"), F.col("b.__sh").alias("sh_b"),
        )
    else:
        pairs = (
            candidates
            .join(sh.withColumnRenamed(id_column, "id_a")
                    .withColumnRenamed("__sh", "sh_a"), "id_a")
            .join(sh.withColumnRenamed(id_column, "id_b")
                    .withColumnRenamed("__sh", "sh_b"), "id_b")
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(0.0))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def benchmark_contamination(df: DataFrame, benchmark: DataFrame,
                            text_column: str = "text",
                            id_column: str = "doc_id",
                            shingle_k: int = 5,
                            min_shared: int = 1) -> DataFrame:
    """Decontamination scan: corpus documents sharing at least
    ``min_shared`` distinct word k-gram shingles with ANY benchmark
    document (the eval-set leak check run before training).

    The benchmark is small by construction → its distinct shingle hashes
    broadcast; the corpus explodes to (id, shingle_hash) pairs that
    inner-join the broadcast set, so the corpus never self-joins and
    only 8-byte (id, hash) pairs ever move. Returns
    (id, n_matched_shingles) for flagged documents.
    """
    bench_sh = (
        benchmark
        .select(F.explode(shingles(text_column, shingle_k)).alias("__s"))
        .select(F.xxhash64("__s").alias("__h"))
        .distinct()
    )
    corpus_sh = df.select(
        F.col(id_column),
        F.explode(shingles(text_column, shingle_k)).alias("__s"),
    ).select(id_column, F.xxhash64("__s").alias("__h"))
    return (
        corpus_sh.join(F.broadcast(bench_sh), "__h")
        .groupBy(id_column)
        .agg(F.count_distinct("__h").alias("n_matched_shingles"))
        .filter(F.col("n_matched_shingles") >= min_shared)
    )


def minhash_dedup(df: DataFrame, text_column: str = "text",
                  id_column: str = "doc_id", num_hashes: int = 32,
                  num_bands: int = 4, shingle_k: int = 5,
                  threshold: float = 0.8,
                  transitive: bool = False,
                  signatures: DataFrame | None = None,
                  max_bucket_size: int | None = None,
                  bands: DataFrame | None = None) -> DataFrame:
    """Full near-dedup: exact dedup → minhash → LSH bands → Jaccard
    verify → drop the higher id of each duplicate pair.

    Exact dedup runs first: identical texts are Jaccard-1.0 duplicates,
    so collapsing them up front (one cheap 8-byte-key shuffle) leaves the
    same survivor set while shrinking LSH buckets — on corpora with heavy
    exact duplication this is the difference between O(survivors²) and
    O(corpus²) within hot buckets.

    ``transitive=True`` switches the final drop to connected-component
    clustering (one representative per duplicate CLUSTER, not per pair):
    stricter when duplicate chains exist, a few extra tiny-join rounds.

    ``max_bucket_size`` passes through to :func:`lsh_candidate_pairs`
    (hot-bucket cap for boilerplate-heavy crawls).

    ``bands`` takes a precomputed, persisted band table from
    :func:`band_signatures` over the SAME signatures — one banding pass
    can then feed this dedup and an incremental batch in the same job
    (pair of ``signatures=``).

    ``signatures`` takes a precomputed ``(id, minhash)`` table from
    :func:`minhash_signatures` (same num_hashes/shingle_k/seed) so one
    persisted signature pass can feed several dedup paths (e.g. a full
    dedup and an incremental batch in the same job) instead of each
    recomputing the fold over every document. Signatures for rows that
    exact dedup collapses are harmless: identical texts sign identically,
    so their candidate pairs resolve through the surviving representative
    and non-survivors drop out of the verify join against ``uniq``.
    """
    # persisted, not counted: the first action that scans uniq fills it
    uniq = exact_dedup(df, text_column, id_column).persist()
    with_sig = (signatures if signatures is not None
                else minhash_signatures(uniq, text_column, num_hashes,
                                        shingle_k))
    cands = lsh_candidate_pairs(with_sig, id_column, num_bands,
                                max_bucket_size=max_bucket_size,
                                signature_length=num_hashes, bands=bands)
    # the candidate-pair join is referenced three times downstream (the
    # shingle semi-join and both sides of the verify join) — materialize
    # the tiny (id, id) pair set once instead of re-running the bucket
    # self-join per reference
    cands = cands.persist()
    cands.count()
    dups = ngram_jaccard_pairs(uniq, text_column, id_column, shingle_k,
                               threshold, candidates=cands)
    if transitive:
        return duplicate_clusters(uniq, dups, id_column)
    to_drop = dups.select(F.col("id_b").alias(id_column)).distinct()
    return uniq.join(to_drop, id_column, "left_anti")


def _batch_pairs(uniq: DataFrame, bn: DataFrame, text_column: str,
                 id_column: str, shingle_k: int, threshold: float,
                 max_bucket_size: int | None = None,
                 br: DataFrame | None = None,
                 reference_df: DataFrame | None = None,
                 within: bool = True) -> tuple[DataFrame, DataFrame]:
    """``(pairs, cands)``: ONE tagged candidate table ``cands`` — the
    reference band rows ``br`` (``ref`` true) and, with ``within``, the
    batch's own rows (``ref`` false, smaller id) bucket-joined to the
    batch bands ``bn`` — verified by one shingle join into ``(id_a,
    id_b, ref, dropped, missing)``; ``missing`` marks a reference
    candidate whose text ``reference_df`` lacks. ``max_bucket_size``
    drops the a-side rows of buckets with more same-side rows than
    that: the reference cap of the cross join and the within-batch
    self-join cap in one aggregation. With a reference side ``cands``
    is cached (filled lazily) for the text prune and the verify join;
    the caller unpersists it."""
    def tagged(bands, ref):
        return bands.select(F.col(id_column).alias("id_a"), "band",
                            "band_hash", F.lit(ref).alias("ref"))

    sides = ([tagged(br, True)] if br is not None else []) + (
        [tagged(bn, False)] if within else [])
    a = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
    if max_bucket_size is not None:
        keys = ["band", "band_hash", "ref"]
        ok = (a.groupBy(*keys).count()
              .filter(F.col("count") <= max_bucket_size).select(*keys))
        a = a.join(ok, keys, "left_semi")
    cands = (a.join(bn.select(F.col(id_column).alias("id_b"), "band",
                              "band_hash"), ["band", "band_hash"])
             .filter(F.col("ref") | (F.col("id_a") < F.col("id_b")))
             .select("id_a", "id_b", "ref").distinct())

    def sh(df, ref):
        return df.select(F.col(id_column).alias("id_a"),
                         F.lit(ref).alias("ref"),
                         shingles(text_column, shingle_k).alias("sh_a"))

    # the whole batch is shingled (signing it shingled it anyway); of
    # the reference, only candidate docs are
    sh_new = sh(uniq, False)
    sh_a = sh_new if within else None
    if br is not None:
        ref_ids = (cands.persist().filter(F.col("ref"))
                   .select(F.col("id_a").alias(id_column)))
        sh_ref = sh(reference_df.join(ref_ids, id_column, "left_semi"),
                    True)
        sh_a = sh_ref if sh_a is None else sh_a.unionByName(sh_ref)
    pairs = (cands.join(sh_a, ["id_a", "ref"], "left")
             .join(sh_new.select(F.col("id_a").alias("id_b"),
                                 F.col("sh_a").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    has_a = F.col("sh_a").isNotNull()
    return pairs.select(
        "id_a", "id_b", "ref",
        (has_a & (F.when(union > 0, inter / union).otherwise(0.0)
                  >= threshold)).alias("dropped"),
        (F.col("ref") & ~has_a).alias("missing")), cands


def within_batch_drop(uniq: DataFrame, sigs_new: DataFrame,
                      text_column: str = "text",
                      id_column: str = "doc_id",
                      num_hashes: int = 32, num_bands: int = 4,
                      shingle_k: int = 5, threshold: float = 0.8,
                      max_bucket_size: int | None = None,
                      bands: DataFrame | None = None) -> DataFrame:
    """The ids a batch drops against ITSELF (smaller-id verified
    neighbors) — the within-batch half of :func:`incremental_dedup`,
    exposed so a job running the same batch against SEVERAL references
    (e.g. a DataFrame reference and a persisted signature store, q30's
    shape) computes this half once and passes it to each call via
    ``within_drop`` instead of re-running the candidate self-join and
    shingle verify per reference. ``uniq`` must be the exact-deduped
    batch; ``sigs_new``/``bands`` follow the usual precomputed-reuse
    contract. Lazy. Full-corpus semantics: b drops if ANY smaller-id
    batch doc is a neighbor, whether or not that doc itself survived
    the reference pass."""
    if bands is not None:
        _check_band_table(bands, num_bands, num_hashes, "bands")
    else:
        bands = band_signatures(sigs_new, id_column, num_bands, num_hashes)
    pairs, _ = _batch_pairs(uniq, bands, text_column, id_column,
                            shingle_k, threshold, max_bucket_size)
    return (pairs.filter("dropped")
            .select(F.col("id_b").alias(id_column)).distinct())


def incremental_dedup(new_df: DataFrame, reference_sigs: DataFrame,
                      reference_df: DataFrame,
                      text_column: str = "text", id_column: str = "doc_id",
                      num_hashes: int = 32, num_bands: int = 4,
                      shingle_k: int = 5, threshold: float = 0.8,
                      within_batch: bool = True,
                      new_sigs: DataFrame | None = None,
                      max_bucket_size: int | None = None,
                      reference_bands: DataFrame | None = None,
                      new_bands: DataFrame | None = None,
                      require_reference_coverage: bool = False,
                      new_uniq: DataFrame | None = None,
                      within_drop: DataFrame | None = None) -> DataFrame:
    """Dedup a NEW batch against an already-registered corpus using the
    corpus's persisted minhash signatures — the continuous-ingest path.

    The reference side only re-bands its stored ``(id, minhash)``
    signatures, and the bucket join against the batch's bands scales
    with the batch, never a reference self-join; reference text
    (``reference_df``) is read only for candidate ids, by a semi-join.
    One fused plan: reference-bucket pairs and within-batch pairs form
    ONE tagged candidate table, verified by ONE shingle join, and each
    batch doc is flagged from its pairs. The only action is one
    ``localCheckpoint`` of the flagged batch: the survivors come back
    materialized, and the caches this call made are released.

    ``reference_sigs`` must come from :func:`minhash_signatures` with
    the same ``num_hashes``/``shingle_k``/seed so buckets line up. With
    ``within_batch=True`` the result provably equals full-corpus
    ``minhash_dedup`` restricted to the new ids (new ids sorting after
    reference ids): a new doc is dropped iff some reference doc or some
    smaller-id batch doc is a verified >= threshold Jaccard neighbor.
    Returns the surviving rows of ``new_df``.

    Precomputed inputs (the q30 shape: one signing and banding pass
    feeding several dedup calls): ``new_sigs`` — batch signatures (same
    contract as ``minhash_dedup(signatures=...)``; without it the batch
    is signed once here and carries its signature); ``reference_bands``
    / ``new_bands`` — persisted :func:`band_signatures` slices;
    ``new_uniq`` — the batch already exact-deduped (and persisted);
    ``within_drop`` — a :func:`within_batch_drop` result for the batch
    (requires ``within_batch=True``).

    ``max_bucket_size`` caps BOTH candidate producers (the within-batch
    self-join and the reference-side buckets), so one low-entropy
    reference bucket cannot fan every matching batch doc into thousands
    of verify pairs per band.

    ``require_reference_coverage=True`` turns the reference-text
    contract into a loud error: a candidate whose reference text is
    absent from ``reference_df`` cannot be verified and would silently
    KEEP the near-duplicate, so any such candidate raises instead. The
    check rides the same pass — an ``Observation`` on the checkpoint
    counts the batch docs flagged with an uncovered candidate; only
    the raising path runs extra jobs (the distinct counts of its
    message).
    """
    if within_drop is not None and not within_batch:
        raise ValueError("within_drop requires within_batch=True")
    uniq = new_uniq if new_uniq is not None else (
        exact_dedup(new_df, text_column, id_column) if within_batch
        else new_df)
    cols = uniq.columns
    if new_sigs is None:
        uniq = new_sigs = minhash_signatures(uniq, text_column, num_hashes,
                                             shingle_k)
    if uniq is not new_uniq:
        uniq.persist()
    if new_bands is not None:
        _check_band_table(new_bands, num_bands, num_hashes, "new_bands")
        bn = new_bands
    else:
        bn = band_signatures(new_sigs, id_column, num_bands, num_hashes)
    if reference_bands is not None:
        _check_band_table(reference_bands, num_bands, num_hashes,
                          "reference_bands")
        br = reference_bands
    else:
        br = band_signatures(reference_sigs, id_column, num_bands,
                             num_hashes)
    pairs, cands = _batch_pairs(
        uniq, bn, text_column, id_column, shingle_k, threshold,
        max_bucket_size, br, reference_df,
        within=within_batch and within_drop is None)
    flags = pairs.select(F.col("id_b").alias(id_column), "dropped",
                         "missing")
    if within_drop is not None:
        flags = flags.unionByName(within_drop.select(
            id_column, F.lit(True).alias("dropped"),
            F.lit(False).alias("missing")))
    # one row per batch doc with a candidate: bounded by the batch
    per_doc = flags.groupBy(id_column).agg(
        F.max("dropped").alias("__dropped"),
        F.max("missing").alias("__missing"))
    marked = uniq.join(F.broadcast(per_doc), id_column, "left")
    if require_reference_coverage:
        obs = Observation()
        marked = marked.observe(
            obs, F.count(F.when(F.col("__missing"), 1)).alias("n"))
    marked = marked.localCheckpoint()
    cands.unpersist()
    if uniq is not new_uniq:
        uniq.unpersist()
    if require_reference_coverage and obs.get["n"]:
        ref_pairs = pairs.filter("ref")
        raise ValueError(
            f"reference_df lacks the text of "
            f"{ref_pairs.filter('missing').select('id_a').distinct().count()}"
            f" of {ref_pairs.select('id_a').distinct().count()} candidate "
            f"reference id(s); their near-duplicates in the new batch "
            f"would silently be KEPT. Pass the accumulated corpus (every "
            f"committed id), or set require_reference_coverage=False to "
            f"accept the gap.")
    return (marked.filter(~F.coalesce(F.col("__dropped"), F.lit(False)))
            .select(*cols))


def dedup_paragraphs(df: DataFrame, text_column: str = "text",
                     id_column: str = "doc_id",
                     sep_regex: str = r"\n\n+") -> DataFrame:
    """Corpus-global paragraph-level dedup (the C4/CCNet boilerplate
    pass): split every document into paragraphs, keep only the FIRST
    occurrence of each distinct paragraph across the whole corpus
    (first = lexicographically smallest ``(id, position)``), drop the
    rest. Returns the kept rows ``(id, pos, n_paras, paragraph)`` —
    ``pos`` is the paragraph's 0-based position in its document after
    empty-paragraph removal and ``n_paras`` that document's total.

    Paragraph equality is on the normalized fingerprint (lowercase,
    punctuation stripped, whitespace collapsed — same predicate as
    :func:`exact_dedup`), so trivially-reformatted boilerplate collides.

    Shuffle shape for a 100 TB corpus (this ordering is the point):

    1. winner election is a groupBy over ``(fp, id, pos)`` ONLY —
       paragraph text never enters the first shuffle, and map-side
       partial aggregation collapses repeated boilerplate before the
       exchange;
    2. the winner set folds to one int-array row per surviving document
       (``keep_pos``), joined back by document id;
    3. paragraph text crosses the wire exactly once, hash-partitioned by
       document id — the layout :func:`paragraph_dedup`'s reassembly
       groupBy reuses without a further Exchange.
    """
    paras = df.select(
        F.col(id_column),
        F.posexplode(
            F.filter(F.split(F.col(text_column), sep_regex),
                     lambda p: F.trim(p) != "")
        ).alias("pos", "paragraph"),
    ).withColumn("__fp", fingerprint(F.col("paragraph")))
    # per-doc paragraph count from a size() on the same filtered split —
    # a cheap second scan projection, never a window over exploded rows
    counts = df.select(
        F.col(id_column),
        F.size(F.filter(F.split(F.col(text_column), sep_regex),
                        lambda p: F.trim(p) != "")).alias("n_paras"),
    )
    winners = (
        paras.select("__fp", id_column, "pos")
        .groupBy("__fp")
        .agg(F.min(F.struct(F.col(id_column).alias("id"),
                            F.col("pos").alias("pos"))).alias("__w"))
        .select(F.col("__w.id").alias(id_column), F.col("__w.pos").alias("pos"))
    )
    keep_sets = winners.groupBy(id_column).agg(
        F.collect_set("pos").alias("__keep"))
    kept = (
        paras.join(keep_sets, id_column)
        .filter(F.array_contains("__keep", F.col("pos")))
        .select(id_column, "pos", "paragraph")
    )
    return kept.join(counts, id_column).select(
        id_column, "pos", "n_paras", "paragraph")


def dedup_paragraphs_fuzzy(df: DataFrame, text_column: str = "text",
                           id_column: str = "doc_id",
                           sep_regex: str = r"\n\n+",
                           num_hashes: int = 24, num_bands: int = 8,
                           shingle_k: int = 3, threshold: float = 0.8,
                           max_paras_per_doc: int = 1_000_000) -> DataFrame:
    """NEAR-duplicate paragraph removal: like :func:`dedup_paragraphs`
    but paragraphs within Jaccard ``threshold`` of an earlier one are
    dropped too (rotated boilerplate, templated footers with injected
    dates/ids) — the full MinHash+LSH+verify machinery run at paragraph
    granularity by composition.

    Each (doc, pos) paragraph becomes a pseudo-document with the
    composite id ``id * max_paras_per_doc + pos``, which preserves the
    corpus's (id, pos) lexicographic order — so :func:`minhash_dedup`'s
    smallest-id-wins rule IS first-occurrence-wins, the same winner the
    exact pass elects. ``shingle_k`` defaults lower than the document
    path because paragraphs are short.

    Returns the same shape as :func:`dedup_paragraphs`:
    ``(id, pos, n_paras, paragraph)``.
    """
    mp = F.lit(max_paras_per_doc).cast("long")
    # composite-id safety (ADVICE r5): a document with >= max_paras_per_doc
    # paragraphs, or a doc_id >= 2^63 / max_paras_per_doc, would silently
    # collide/overflow ids and corrupt first-occurrence-wins ordering.
    # assert_true rides inside the projection — the guard costs zero extra
    # Spark jobs and fails the stage loudly on the first offending row.
    max_id = (2**63 - 1) // max_paras_per_doc
    in_range = (
        (F.col("pos") < mp)
        & (F.col(id_column).cast("long") < F.lit(max_id))
        & (F.col(id_column).cast("long") >= 0)
    )
    guard = F.assert_true(
        in_range,
        F.lit(f"dedup_paragraphs_fuzzy: composite id out of range — need "
              f"pos < max_paras_per_doc ({max_paras_per_doc}) and "
              f"0 <= {id_column} < {max_id}; raise max_paras_per_doc or "
              "renumber ids"),
    )
    paras = df.select(
        F.col(id_column),
        F.posexplode(
            F.filter(F.split(F.col(text_column), sep_regex),
                     lambda p: F.trim(p) != "")
        ).alias("pos", "paragraph"),
    ).withColumn(
        "__pid",
        # CASE WHEN evaluates lazily: the multiply only runs on in-range
        # rows (an out-of-range doc_id would ANSI-overflow before the
        # guard otherwise), and the assert_true branch raises our message
        F.when(in_range, F.col(id_column).cast("long") * mp + F.col("pos"))
        .otherwise(guard.cast("long")),
    )
    counts = df.select(
        F.col(id_column),
        F.size(F.filter(F.split(F.col(text_column), sep_regex),
                        lambda p: F.trim(p) != "")).alias("n_paras"),
    )
    kept = minhash_dedup(paras.select("__pid", "paragraph"),
                         "paragraph", "__pid",
                         num_hashes=num_hashes, num_bands=num_bands,
                         shingle_k=shingle_k, threshold=threshold)
    out = kept.select(
        (F.col("__pid") / mp).cast("long").alias(id_column),
        (F.col("__pid") % mp).cast("long").alias("pos"),
        "paragraph",
    )
    return out.join(counts, id_column).select(
        id_column, "pos", "n_paras", "paragraph")


def paragraph_dedup(df: DataFrame, text_column: str = "text",
                    id_column: str = "doc_id",
                    sep_regex: str = r"\n\n+",
                    join_sep: str = "\n\n") -> DataFrame:
    """Rewrite each document with its globally-duplicated paragraphs
    removed (see :func:`dedup_paragraphs`). Documents whose every
    paragraph was dropped come back with empty text — callers decide
    whether to drop them (C4 does). Adds ``n_paras_kept`` /
    ``n_paras_total`` so the funnel is attributable.

    The reassembly groupBy runs on the same id-partitioning the kept-
    paragraph join produced — no extra Exchange for the text.
    """
    # re-entrant: a prior pass's count columns would be stale after this
    # one (and would collide with the new ones), so shed them first
    df = df.drop("n_paras_kept", "n_paras_total")
    kept = dedup_paragraphs(df, text_column, id_column, sep_regex)
    rebuilt = kept.groupBy(id_column).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "paragraph"))),
                lambda s: s.paragraph,
            ),
            join_sep,
        ).alias("__text"),
        F.count("*").alias("n_paras_kept"),
    )
    others = [c for c in df.columns if c != text_column]
    # original per-doc paragraph count straight off the source text, so
    # fully-deduplicated documents (no rebuilt row) still report totals
    with_total = df.select(
        *others,
        F.size(F.filter(F.split(F.col(text_column), sep_regex),
                        lambda p: F.trim(p) != ""))
        .cast("long").alias("n_paras_total"),
    )
    return (
        with_total
        .join(rebuilt, id_column, "left")
        .select(
            *others,
            F.coalesce("__text", F.lit("")).alias(text_column),
            F.coalesce("n_paras_kept", F.lit(0).cast("long"))
            .alias("n_paras_kept"),
            "n_paras_total",
        )
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iterations: int = 20,
                         small_graph_edges: int = 100_000) -> DataFrame:
    """Connected components over a duplicate-pair edge list by min-label
    propagation: every vertex converges to the smallest id reachable from
    it. Returns (id, component).

    Each iteration is one distributed join + groupBy (labels and edges
    shuffle on id — bytes per vertex/edge, never payloads); the driver
    only checks a scalar convergence count. Near-dup graphs have tiny
    diameters (duplicate clusters are dense), so this converges in 2-3
    iterations; ``max_iterations`` bounds pathological chains — and a
    graph that has NOT converged by then (diameter > max_iterations)
    hands off to the alternating star algorithm
    (:func:`_cc_alternating_stars`, O(log n) rounds on any topology)
    instead of returning partial labels.

    Graphs at or under ``small_graph_edges`` (measured AFTER the distinct
    — the collect is bounded by this constant, never by input size) skip
    the loop entirely and run driver-side union-find: each distributed
    iteration costs several scheduler round-trips, which dominates
    end-to-end time for clique-cleanup graphs by 10x+. 100k edges is
    ~1.6 MB on the driver; web-scale duplicate graphs stay on the
    executors.
    """
    # both edge directions from ONE scan of the pair plan (inline
    # explode) — a union of two selects would evaluate a possibly
    # expensive upstream join twice before the persist materializes
    import math

    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    # right-size the edge partitioning to the MEASURED edge count: the
    # loop below runs several tiny jobs per iteration, and on a small
    # graph per-task overhead dominates — 1M edges per partition keeps
    # a clique-cleanup graph on a handful of tasks while a web-scale
    # graph keeps its parallelism (never widened, only narrowed)
    # ONE job decides small-vs-large AND fetches the small graph: take
    # n+1 rows — if we get fewer, that IS the whole (bounded) edge set;
    # a separate count-then-collect would walk the graph twice
    rows = edges.take(small_graph_edges + 1)
    if len(rows) <= small_graph_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:       # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            s, d = r["src"], r["dst"]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN so the root IS the component label
                if rd < rs:
                    rs, rd = rd, rs
                parent[rd] = rs
        out = [(v, find(v)) for v in parent]
        edges.unpersist()
        id_field = pairs.schema[id_a]
        schema = StructType([
            StructField("id", id_field.dataType, True),
            StructField("component", id_field.dataType, True),
        ])
        # JVM-literal plan for small label sets (r12): downstream joins
        # scan this frame per action, and the literal form skips the
        # pickled-RDD Python tasks each scan pays; larger label sets
        # keep the parallel createDataFrame path
        from dsgrid_spark.session import _literal_rows_df

        lit = _literal_rows_df(pairs.sparkSession, out, schema)
        if lit is not None:
            return lit
        return pairs.sparkSession.createDataFrame(out, schema=schema)
    # large graph: the take() above already materialized the persisted
    # edges, so this count is a cache scan, not a recompute
    n_edges = edges.count()
    width = edges.rdd.getNumPartitions()
    target = max(1, min(width, math.ceil(n_edges / 1_000_000)))
    if target < width:
        small = edges.coalesce(target).persist()
        small.count()
        edges.unpersist()
        edges = small
    # localCheckpoint (not persist) after every round: each iteration's
    # plan embeds TWO copies of the previous labels plan, so without
    # lineage truncation the plan tree doubles per round and the
    # optimizer OOMs after a handful of iterations
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("__nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("__nmin", F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            edges.unpersist()
            return labels
    # NOT converged: min-label propagation needs O(diameter) rounds, so
    # a chain longer than max_iterations would previously return
    # silently-wrong partial labels. Hand the same edge table to the
    # alternating star algorithm, which converges in O(log n) rounds on
    # ANY topology — correctness can no longer depend on the duplicate
    # graph being dense.
    result = _cc_alternating_stars(edges)
    edges.unpersist()
    return result


def _cc_alternating_stars(edges: DataFrame, max_rounds: int = 50
                          ) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): each round points every node at the minimum of a
    neighborhood, provably converging in O(log n) rounds to one star
    per component centered at its minimum id. The high-diameter
    fallback for :func:`connected_components` — chains and lattices
    converge logarithmically where min-label propagation needs a round
    per hop.

    ``edges`` must hold BOTH directions of every undirected edge (the
    caller's symmetric table). Each round is two groupBy+join phases
    over (src, dst) pairs — ids only, never payloads — with lineage cut
    per round; convergence is a single (count, xor-of-hashes) aggregate
    compared on the driver.
    """
    # vertex set up front: star rounds may drop self-loop-only vertices,
    # and every input vertex must appear in the output labels.
    # localCheckpoint (not persist): the caller unpersists the edge
    # table as soon as this function returns, and the returned labels
    # plan must not re-derive vertices from the raw pair join then
    verts = edges.select(F.col("src").alias("id")).distinct() \
        .localCheckpoint()
    canon = (edges.filter(F.col("src") > F.col("dst"))
             .select("src", "dst").distinct().localCheckpoint())
    prev = None
    for _ in range(max_rounds):
        # large-star: symmetrize, point every LARGER neighbor at the
        # neighborhood minimum (including the center itself)
        sym = canon.unionByName(
            canon.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")))
        mtab = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m"))
        big = (
            sym.join(mtab, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: on (larger -> smaller) edges, point every smaller
        # neighbor (and the center) at the minimum neighbor
        mtab2 = big.groupBy("src").agg(F.min("dst").alias("m"))
        joined = big.join(mtab2, "src")
        canon = (
            joined.filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(joined.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        stats = canon.agg(
            F.count(F.lit(1)).alias("n"),
            # xor, not sum: a 64-bit hash sum overflows ANSI longs
            F.bit_xor(F.xxhash64("src", "dst")).alias("ck")).collect()[0]
        cur = (stats["n"], stats["ck"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components star algorithm did not converge in "
            f"{max_rounds} rounds — not expected for any graph of "
            f"< 2^{max_rounds} vertices; check the edge table for "
            f"pathological churn")
    # stars: (child, root) edges; roots label themselves; vertices that
    # dropped out (self-loop-only) are their own component
    children = canon.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("component"))
    return (
        verts.join(children, "id", "left")
        .select("id", F.coalesce("component", F.col("id"))
                .alias("component"))
    )


def duplicate_clusters(df: DataFrame, pairs: DataFrame,
                       id_column: str = "doc_id") -> DataFrame:
    """Transitive-closure dedup: keep one representative (the min id) per
    connected component of the duplicate-pair graph.

    Stricter than per-pair dropping: in a component {1, 5, 3} with edges
    (1,5) and (3,5) only, pairwise drop keeps 3 (its only neighbor is
    larger) while the closure keeps just 1. Rows not in any pair pass
    through untouched.
    """
    comp = connected_components(pairs, max_iterations=20)
    reps = comp.filter(F.col("id") == F.col("component")).select("id")
    in_graph = comp.select("id")
    keep_from_graph = df.join(
        reps.withColumnRenamed("id", id_column), id_column, "left_semi")
    untouched = df.join(
        in_graph.withColumnRenamed("id", id_column), id_column, "left_anti")
    return keep_from_graph.unionByName(untouched)


def _simhash_sql(text_column: str, bits: int = 64) -> str:
    # ONE fold accumulating all 64 bit-votes at once (separate per-bit
    # aggregates would re-evaluate the tokenization 64x per row). The
    # per-bit extraction walks a sequence with getbit instead of inlining
    # 64 shiftright subtrees — generated code stays O(1) in `bits` (the
    # same codegen-size fix as the minhash coefficient fold). Built as a
    # SQL string (see the SQL-twin note above _normalized_sql).
    words = f"filter(split({_normalized_sql(text_column)}, ' '), w -> w != '')"
    hashes = f"transform({words}, w -> xxhash64(w))"
    votes = (f"aggregate({hashes}, array_repeat(0, {bits}), "
             f"(acc, h) -> zip_with(acc, transform(sequence(0, {bits - 1}), "
             f"i -> CASE WHEN getbit(h, i) = 1 THEN 1 ELSE -1 END), "
             f"(a, v) -> a + v))")
    # combine sign bits into one long INSIDE a single expression —
    # referring to `votes` once; per-bit element_at references would
    # re-inline (and re-evaluate) the fold per bit after projection
    # collapse
    bit_values = (f"zip_with({votes}, sequence(0, {bits - 1}), "
                  f"(v, i) -> CASE WHEN v > 0 THEN "
                  f"shiftleft(CAST(1 AS BIGINT), i) "
                  f"ELSE CAST(0 AS BIGINT) END)")
    return (f"aggregate({bit_values}, CAST(0 AS BIGINT), "
            f"(acc, x) -> acc | x)")


def simhash(text_column: str = "text", bits: int = 64) -> "F.Column":
    """64-bit SimHash over word tokens, via bit-vote aggregation.

    For each bit position i, sum +1/-1 votes across token hashes with
    ``aggregate``; the sign becomes bit i. No UDF, no shuffle; one
    codegen'd expression tree.
    """
    return F.expr(_simhash_sql(text_column, bits))


def _simhash_column_api(text_column: str = "text",
                        bits: int = 64) -> "F.Column":
    """Column-API twin of :func:`simhash` (parity tests)."""
    words = F.filter(F.split(_normalized(text_column), " "), lambda w: w != "")
    hashes = F.transform(words, lambda w: F.xxhash64(w))

    def votes_of(h):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda i: F.when(F.call_function("getbit", h, i) == 1,
                             1).otherwise(-1),
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, votes_of(h), lambda a, v: a + v),
    )
    bit_values = F.zip_with(
        votes,
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda v, i: F.when(
            v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bit_values, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x)
    )


def _simhash_block_keys(sh, bits: int, n_blocks: int,
                        prefix_blocks: int) -> list["F.Column"]:
    """Candidate keys for blocked SimHash joins: split the ``bits``-wide
    signature into ``n_blocks`` nearly-equal bit blocks and pack every
    C(n_blocks, prefix_blocks) combination of ``prefix_blocks`` block
    values into one long each.

    Pigeonhole guarantee: k bit flips touch at most k blocks, so two
    signatures within hamming distance k agree on >= n_blocks - k whole
    blocks — and therefore share at least one combination of
    ``prefix_blocks`` blocks whenever prefix_blocks <= n_blocks - k.
    Keying on every combination finds ALL such pairs (no recall loss);
    wider prefixes only shrink the buckets.
    """
    from itertools import combinations

    base, rem = divmod(bits, n_blocks)
    widths = [base + 1 if i < rem else base for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    max_w = max(widths)
    if prefix_blocks * max_w > 63:
        raise ValueError(
            f"cannot pack {prefix_blocks} blocks of {max_w} bits into a "
            "64-bit key; raise n_blocks or lower prefix_blocks")
    blocks = [
        F.shiftright(sh, offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_blocks)
    ]
    keys = []
    for combo in combinations(range(n_blocks), prefix_blocks):
        k = F.lit(0).cast("long")
        for j, bi in enumerate(combo):
            k = k.bitwiseOR(F.call_function(
                "shiftleft", blocks[bi].cast("long"), F.lit(j * max_w)))
        keys.append(k)
    return keys


def simhash_signatures(df: DataFrame, text_column: str = "text",
                       id_column: str = "doc_id") -> DataFrame:
    """(id, simhash) signature table — compute ONCE and pass to several
    `simhash_dedup` calls via ``signatures=`` (the bit-vote fold is the
    dominant cost; the same one-pass-feeds-all-consumers contract as
    `minhash_signatures`/`band_signatures`). Caller persists."""
    return df.select(F.col(id_column), simhash(text_column).alias("simhash"))


def simhash_dedup(df: DataFrame, text_column: str = "text",
                  id_column: str = "doc_id",
                  hamming_threshold: int = 3,
                  n_blocks: int | None = None,
                  prefix_blocks: int = 1,
                  signatures: DataFrame | None = None) -> DataFrame:
    """Near-dedup by SimHash: block on every combination of
    ``prefix_blocks`` out of ``n_blocks`` signature blocks (pigeonhole —
    guaranteed to catch hamming distance <= n_blocks - prefix_blocks),
    verify with bit_count(xor) <= threshold, drop higher ids.

    The default (4, 1) keys on single 16-bit blocks: 4 candidate keys per
    doc, buckets ~n/2^16 — right-sized through a few million docs. Past
    ~10M docs the 16-bit buckets saturate and the join probes O(sum
    bucket^2) pairs; switch to the Manku-style wide prefix (Manku,
    Jain & Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07):
    ``n_blocks=6, prefix_blocks=3`` keys on C(6,3)=20 combinations of
    ~33 prefix bits, buckets ~n·20/2^33 — still single-digit at 1e9 docs.
    Same exact recall for hamming <= 3 (both satisfy the pigeonhole
    bound); only the shuffle fan-out (4 -> 20 rows of (key, id, sh)) and
    the bucket geometry change.
    """
    if n_blocks is None:
        # derive a blocking that GUARANTEES the requested recall: the
        # 4x16 default covers hamming <= 3; wider thresholds get exactly
        # as many blocks as the pigeonhole bound needs (the old code
        # silently kept 4 blocks and missed pairs past distance 3)
        n_blocks = max(4, hamming_threshold + prefix_blocks)
    if n_blocks - prefix_blocks < hamming_threshold:
        raise ValueError(
            f"blocking ({n_blocks} blocks, prefix {prefix_blocks}) only "
            f"guarantees hamming <= {n_blocks - prefix_blocks}, below the "
            f"requested threshold {hamming_threshold}")
    # signatures are 8 bytes/doc: persist so the giant bit-vote expression
    # tree runs once, not once per self-join side (or reuse a shared
    # precomputed table — q31 runs both blocking geometries off ONE fold)
    if signatures is not None:
        sh = signatures.select(F.col(id_column),
                               F.col("simhash").alias("__sh"))
    else:
        sh = simhash_signatures(df, text_column, id_column) \
            .withColumnRenamed("simhash", "__sh")
        sh = sh.persist()
        sh.count()
    keys = _simhash_block_keys(F.col("__sh"), 64, n_blocks, prefix_blocks)
    chunks = sh.select(
        id_column, "__sh",
        F.posexplode(F.array(*keys)).alias("chunk", "chunk_val"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    # The hamming verify lives INSIDE the join condition: once the corpus
    # far exceeds 2^16 docs the 16-bit buckets saturate (~n/65536 docs per
    # bucket), and the old candidates->distinct->filter pipeline shuffled
    # the full O(sum bucket^2) candidate set before verifying. Evaluating
    # bit_count(xor) as a join residual discards false candidates inside
    # the hash-join probe, so only TRUE near-dup pairs reach the distinct
    # (sf10 rehearsal: 9.7 s -> the verify output is duplicate-sized, not
    # bucket-squared-sized).
    ham = F.bit_count(F.col("l.__sh").bitwiseXOR(F.col("r.__sh")))
    dups = (
        l.join(r, (F.col("l.chunk") == F.col("r.chunk"))
               & (F.col("l.chunk_val") == F.col("r.chunk_val"))
               & (F.col(f"l.{id_column}") < F.col(f"r.{id_column}"))
               & (ham <= hamming_threshold))
        .select(F.col(f"r.{id_column}").alias(id_column))
    )
    to_drop = dups.distinct()
    return df.join(to_drop, id_column, "left_anti")


# padded cells per prefix matrix in the rolling-hash kernel (~32 MB
# int64 at the default); module-level so tests can shrink it to force
# the length-sorted re-chunking path
_ROLLING_CELL_BUDGET = 1 << 22


def _rolling_window_keys_kernel(L: int, b1: int, b2: int, p: int):
    """Arrow kernel for the ``rolling`` hash method of
    :func:`dedup_substrings`: true O(n) double polynomial window hashes
    via prefix hashes, vectorized ACROSS documents.

    The recurrence ``P[i+1] = (P[i]*B + x[i]) mod p`` is sequential in
    position but independent per document, so each batch pads its
    token-hash arrays into a (docs x maxlen) int64 matrix and the loop
    runs over POSITIONS — maxlen numpy steps, each touching every doc at
    once. Window key = ``(P[i+L] - P[i]*B^L) mod p`` per stream, the two
    streams combined as ``h1*p + h2`` — bit-identical to the fold path
    (same polynomials, same combination; tested). All intermediates fit
    int64: values < p < 2^31, bases ~1e6, so a*B + x < 2^52.

    Documents are re-chunked by length inside the batch (sorted, capped
    at a padded-cell budget) so one long outlier doc cannot pad the
    whole batch's matrices to its length.
    """
    import numpy as np
    import pandas as pd

    bl1 = pow(b1, L, p)
    bl2 = pow(b2, L, p)
    # resolved DRIVER-side into a plain closure local, so a test that
    # monkeypatches the module constant affects the executor kernel
    cell_budget = _ROLLING_CELL_BUDGET

    def kernel(frames):
        for pdf in frames:
            ids = pdf.iloc[:, 0]
            h1s = [np.asarray(a, dtype=np.int64) for a in pdf["__h1"]]
            h2s = [np.asarray(a, dtype=np.int64) for a in pdf["__h2"]]
            order = sorted(range(len(h1s)), key=lambda r: len(h1s[r]))
            out_ids, out_keys = [], []
            chunk: list[int] = []
            maxlen = 0

            def flush():
                nonlocal chunk, maxlen
                if not chunk:
                    return
                n, m = len(chunk), maxlen
                X1 = np.zeros((n, m), np.int64)
                X2 = np.zeros((n, m), np.int64)
                lens = np.empty(n, np.int64)
                for r, ri in enumerate(chunk):
                    a1, a2 = h1s[ri], h2s[ri]
                    X1[r, :len(a1)] = a1
                    X2[r, :len(a2)] = a2
                    lens[r] = len(a1)
                P1 = np.zeros((n, m + 1), np.int64)
                P2 = np.zeros((n, m + 1), np.int64)
                for j in range(m):
                    P1[:, j + 1] = (P1[:, j] * b1 + X1[:, j]) % p
                    P2[:, j + 1] = (P2[:, j] * b2 + X2[:, j]) % p
                # K[i] = (P[i+L] - P[i]*B^L) mod p, for i in 0..len-L
                K1 = (P1[:, L:] - P1[:, :m + 1 - L] * bl1) % p
                K2 = (P2[:, L:] - P2[:, :m + 1 - L] * bl2) % p
                K = K1 * p + K2
                for r, ri in enumerate(chunk):
                    nw = int(lens[r]) - L + 1
                    out_ids.append(ids.iloc[ri])
                    out_keys.append(K[r, :nw].tolist() if nw > 0 else [])
                chunk, maxlen = [], 0

            for ri in order:
                ln = len(h1s[ri])
                new_max = max(maxlen, ln)
                if chunk and new_max * (len(chunk) + 1) > cell_budget:
                    flush()
                    new_max = ln
                chunk.append(ri)
                maxlen = new_max
            flush()
            yield pd.DataFrame({pdf.columns[0]: out_ids,
                                "__k": out_keys})

    return kernel


def dedup_substrings(df: DataFrame, text_column: str = "text",
                     id_column: str = "doc_id",
                     window_tokens: int = 50,
                     hash_method: str = "rolling") -> DataFrame:
    """Exact duplicate-substring removal (Lee, Ippolito et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    the suffix-array ExactSubstr pass, re-expressed for Spark): any run
    of ``window_tokens`` consecutive whitespace tokens whose exact
    sequence also occurs at a globally EARLIER (id, pos) is removed;
    the first occurrence keeps its text. Within-doc self-repeats dedup
    the same way. Docs shorter than the window pass through untouched.

    Spark shape (no suffix array — that structure is single-machine):

      1. per doc, double 31-bit polynomial rolling hashes of every
         L-token window, combined into one ~62-bit key — pure integer
         HOF folds, no per-window string materialization, no overflow
         under ANSI mode (a < 2^31, a*B + x < 2^62). The two
         polynomials roll over two INDEPENDENT xxhash64 token-hash
         streams (salted second hash), not one stream with two bases:
         with a shared stream, two windows differing in a single token
         collide in BOTH polynomials whenever that token pair collides
         mod 2^31-1 — only 31-bit resistance exactly where templated
         corpora live (near-identical windows), observed once at the
         50k-doc rehearsal (SCALE_R6.md). Independent streams restore
         the full ~62-bit bound. Both token-hash arrays materialize as
         per-row columns so window folds slice longs — inlining the
         hash expression into the window lambda re-evaluates it per
         window (~L x n string hashes per doc, measured 731 s -> tens
         of seconds at 50k docs);
      2. ONE shuffle of (key, id, pos) rows — 8-byte keys, never text —
         grouped to the global first occurrence ``min(struct(id, pos))``;
      3. every non-first occurrence marks its doc's token range
         [pos, pos+L); ranges collect per doc (`collect_list` bounded by
         the doc's own window count) and coverage is an `exists` over
         the starts array per token;
      4. text rebuilds from the kept tokens (single-space joined — the
         same whitespace normalization for every doc, touched or not).

    Window-key equality stands in for sequence equality at ~2^-62 collision
    odds per pair — the same reliance `exact_dedup` places on xxhash64.
    Returns (id, text, n_tokens_kept, n_tokens_dropped).

    ``hash_method`` picks how step 1 computes the window keys —
    identical values either way (tested):

    - ``"rolling"`` (default): token hashes stay JVM-side (xxhash64
      transforms), then an Arrow ``mapInPandas`` kernel computes PREFIX
      hashes with the true O(n) recurrence, vectorized across the
      batch's documents (:func:`_rolling_window_keys_kernel`), and each
      window key is one subtract-multiply — O(1) per window. Only
      (id, h1, h2) long arrays cross Arrow, never text. Measured at
      sf10 (SCALE_R7.md): the window-hash stage drops ~7x vs fold.
    - ``"fold"``: pure-JVM per-window slice+aggregate folds — O(n*L)
      per doc (each of the n-L+1 windows refolds its L elements). Zero
      Python, embarrassingly parallel, but a ~L x compute constant that
      is real money at 100 TB; kept as the no-Arrow fallback and as the
      independent implementation the equality test checks against.
    """
    if hash_method not in ("rolling", "fold"):
        raise ValueError(
            f"hash_method must be rolling or fold, got {hash_method!r}")
    L = window_tokens
    _B1, _B2 = 1_000_003, 1_000_033
    p = _MERSENNE

    words = F.split(F.trim(F.col(text_column)), r"\s+")

    def roll(hw_col, base, nn):
        return F.transform(
            F.sequence(F.lit(0), nn - L),
            lambda i: F.aggregate(
                F.slice(hw_col, i + 1, L), F.lit(0).cast("long"),
                lambda a, x: F.pmod(a * base + x, p)),
        )

    # HOF "let" binding: the two token-hash streams are packed into a
    # single-element struct array and consumed through the transform
    # lambda's VARIABLE — lambda variables are real references, so the
    # window loop below slices precomputed long arrays. Naively naming
    # them in a projection does NOT work: CollapseProject re-inlines
    # the projection into every window lambda (L x n string hashes per
    # doc instead of n — measured 755 s vs ~30 s at 50k docs).
    def window_keys(w_col):
        h1 = F.transform(w_col, lambda t: F.pmod(F.xxhash64(t), p))
        # independent second stream (salted), NOT a second base over the
        # same stream — see the docstring's collision note
        h2 = F.transform(w_col, lambda t: F.pmod(
            F.xxhash64(F.concat(t, F.lit("\x01s2"))), p))
        return F.element_at(
            F.transform(
                F.array(F.struct(h1.alias("h1"), h2.alias("h2"),
                                 F.size(w_col).alias("n"))),
                lambda s: F.when(
                    s["n"] >= L,
                    F.zip_with(roll(s["h1"], F.lit(_B1), s["n"]),
                               roll(s["h2"], F.lit(_B2), s["n"]),
                               lambda h1_, h2_: h1_ * p + h2_),
                ).otherwise(F.array().cast("array<long>")),
            ), 1)

    # one id-partitioned pass computes the keys; ReuseExchange serves
    # both consumers (the posexplode branch and the rebuild join, which
    # needs id partitioning anyway) from the same corpus evaluation
    if hash_method == "rolling":
        tok = df.select(F.col(id_column), words.alias("__w"))
        hashed = tok.select(
            id_column, "__w",
            F.transform(F.col("__w"),
                        lambda t: F.pmod(F.xxhash64(t), p)).alias("__h1"),
            F.transform(F.col("__w"), lambda t: F.pmod(
                F.xxhash64(F.concat(t, F.lit("\x01s2"))), p)).alias("__h2"),
        )
        id_type = df.schema[id_column].dataType.simpleString()
        keys = hashed.select(id_column, "__h1", "__h2").mapInPandas(
            _rolling_window_keys_kernel(L, _B1, _B2, p),
            f"{id_column} {id_type}, __k array<long>")
        base = (hashed.select(id_column, "__w").join(keys, id_column)
                .repartition(F.col(id_column)))
    else:
        base = df.select(F.col(id_column), words.alias("__w"),
                         window_keys(words).alias("__k")) \
            .repartition(F.col(id_column))
    w = base.select(id_column, F.posexplode("__k").alias("pos", "h"))
    firsts = w.groupBy("h").agg(
        F.min(F.struct(F.col(id_column).alias("i"),
                       F.col("pos").alias("p"))).alias("first"))
    dup = (
        w.join(firsts, "h")
        .filter(~((F.col(id_column) == F.col("first.i"))
                  & (F.col("pos") == F.col("first.p"))))
        .groupBy(id_column)
        .agg(F.sort_array(F.collect_set("pos")).alias("__starts"))
    )
    rebuilt = (
        base.join(dup, id_column, "left")
        .withColumn("__starts", F.coalesce(
            F.col("__starts"), F.array().cast("array<int>")))
        .withColumn(
            "__kept",
            F.filter(
                F.col("__w"),
                lambda w_, i: ~F.exists(
                    F.col("__starts"),
                    lambda s: (s <= i) & (i < s + L)),
            ),
        )
        .select(
            id_column,
            F.array_join("__kept", " ").alias(text_column),
            F.size("__kept").cast("long").alias("n_tokens_kept"),
            (F.size("__w") - F.size("__kept")).cast("long")
            .alias("n_tokens_dropped"),
        )
    )
    return rebuilt
