"""Persisted inverted index + BM25 search over it.

``text.bm25_scores`` scans the corpus per query — right for ad-hoc
audits, wrong as the steady-state retrieval path at 100 TB. The index
here is built ONCE (one tokenize + one (doc, term) shuffle), persisted
as parquet partitioned by a hash bucket of the term, and every
subsequent query reads ONLY the buckets its terms hash into: Spark's
partition pruning turns a corpus-scale scan into a few-file probe, and
the residual ``term IN (...)`` filter is pushed into the parquet reader
for row-group skipping within those buckets.

Layout (classic document-at-a-time BM25 postings):

- ``postings/bucket=K/batch=B/``: (term, id, tf, dl[, positions]) — dl
  (doc length) is DENORMALIZED into each posting so scoring never joins
  a doc-length table; postings are sorted by term within each file so
  row-group stats make the term filter selective; ``positions=True``
  adds per-(doc, term) token positions for ``phrase_search``.
- ``stats/``: a single (n_buckets, has_positions, ...) CONFIG row,
  written once at build and never rewritten.
- ``batches/``: the committed-batch log (pipeline/indexlog.py) — also
  the source of truth for corpus totals (n_docs, total_tokens summed
  over committed batches).

A common term's postings list is large, but it is a FLAT table — no
per-term array to overflow an executor, and a query for k terms reads
at most k buckets. Index build cost: one shuffle of query-independent
(doc, term) pairs with map-side combine (the word_counts shape), plus a
second corpus scan for the two stats scalars — caching the tokenized
corpus to save that scan would cost corpus-scale memory for a one-time
build, so it deliberately re-reads.

READER ISOLATION (round 7): every read-side structure is either
append-only (postings batch directories, log batch directories) or
immutable (the stats config row), and queries filter postings to the
batch ids committed in the log AT READ TIME — per-term doc frequencies
are aggregated from that same pruned, committed-filtered postings read
(a map-side-combined groupBy over rows the query scans anyway) rather
than from a derived table rewritten in place. A search running
concurrently with an append therefore sees exactly the pre-commit or
the post-commit index, never a half-written one, and orphan partitions
from crashed appends are invisible until their batch id is retried.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dsgrid_spark.filesystem import filesystem_for
from dsgrid_spark.pipeline import indexlog
from dsgrid_spark.pipeline.text import ANALYZERS


def _analyzer_fn(name: str):
    try:
        return ANALYZERS[name]
    except KeyError:
        raise ValueError(
            f"unknown analyzer {name!r}; available: {sorted(ANALYZERS)}")


def _check_unique_query_ids(ids, what: str = "queries") -> None:
    """Reject duplicate query ids in a list-form batch LOUDLY. The
    batch forms key their per-query state (analyzed terms, slot
    tables) by query id, so a duplicate would silently apply ONE
    entry's terms to both rows — wrong scores with no signal. Real
    eval sweeps generate ids programmatically; a collision is a bug
    the caller wants surfaced, not papered over."""
    from collections import Counter

    dup = sorted((i for i, n in Counter(ids).items() if n > 1),
                 key=repr)
    if dup:
        raise ValueError(
            f"duplicate query ids in {what}: {dup!r} — each id must "
            f"key exactly one query; re-key or de-duplicate the batch")


def _analyze_query(spark: SparkSession, analyzer: str,
                   parts: list[str]) -> list[str]:
    """Token list for ONE query under the INDEX's analyzer (order kept,
    duplicates kept — phrase search needs both). One 1-row evaluation,
    same cost class as the existing bucket-hash probe."""
    row = spark.range(1).select(
        _analyzer_fn(analyzer)(F.lit(" ".join(parts))).alias("t")
    ).collect()[0]
    return [t for t in row["t"] if t != ""]


def _analyze_queries(spark: SparkSession, analyzer: str,
                     queries: list[tuple]) -> list[tuple]:
    """(query_id, sorted-unique analyzed terms) for a whole query
    batch in ONE job: the raw term strings ride a one-slice frame
    through the analyzer expression and one bounded collect returns
    Q rows. The r10 board paid one 1-row job launch PER query here
    (~10-50 ms each — minutes of pure launch tax ahead of the single
    scoring job on a 10k-query sweep); batch analysis makes the prep
    cost one job regardless of Q. Raises when any query has no
    surviving term (the list-form contract)."""
    from dsgrid_spark.pipeline.pq import query_id_type
    from dsgrid_spark.session import one_slice_df

    _check_unique_query_ids([qid for qid, _ in queries])
    qid_type = query_id_type(queries)
    raw = one_slice_df(
        spark,
        [(qid, " ".join(str(p) for p in parts))
         for qid, parts in queries],
        f"query_id {qid_type}, __raw string")
    arr = F.array_sort(F.array_distinct(F.filter(
        _analyzer_fn(analyzer)(F.col("__raw")), lambda t: t != "")))
    rows = raw.select("query_id", arr.alias("t")).collect()
    terms_of = {r["query_id"]: list(r["t"]) for r in rows}
    out = []
    for qid, parts in queries:
        analyzed = terms_of[qid]
        if not analyzed:
            raise ValueError(
                f"no query term survives the {analyzer!r} analyzer: "
                f"{list(parts)!r} (query {qid!r})")
        out.append((qid, analyzed))
    return out


def _df_query_terms(queries: DataFrame, analyzer: str,
                    query_id_column: str,
                    query_column: str) -> tuple[DataFrame, list[str]]:
    """The DataFrame-query form's analysis phase: ``(query_id, term)``
    pairs with the analyzer applied as a COLUMN EXPRESSION over the
    whole query frame (never a per-query driver job), plus the
    driver-side term-union vocabulary for bucket pruning. The query
    column may be raw text (string) or a pre-split term array —
    arrays are joined and re-analyzed so the semantics match the list
    form exactly. Driver state is bounded by the union VOCABULARY
    (what the list form materializes anyway), never by Q. Raises when
    the frame is empty or any query analyzes to zero terms."""
    dt = dict(queries.dtypes).get(query_column)
    if dt is None:
        raise ValueError(
            f"query column {query_column!r} not in queries frame "
            f"(columns: {queries.columns})")
    raw = (F.col(query_column) if dt == "string"
           else F.concat_ws(" ", F.col(query_column).cast(
               "array<string>")))
    arr = F.array_distinct(F.filter(
        _analyzer_fn(analyzer)(raw), lambda t: t != ""))
    qt = queries.select(F.col(query_id_column).alias("query_id"),
                        arr.alias("__t"))
    # ONE action for shape validation AND the term-union vocabulary
    # (r12: was a shape aggregate plus a distinct-collect — two driver
    # round-trips per search call). explode_outer turns each empty
    # query into exactly one null-term row, so the counts are exact,
    # and collect_set's aggregation state is partial-deduped per task —
    # bounded by the VOCABULARY, never by the query count, the same
    # driver-state bound the two-action form had.
    shape = (qt.select("query_id", F.explode_outer("__t").alias("term"))
               .agg(F.count_distinct("query_id").alias("n_q"),
                    F.coalesce(F.sum(F.when(F.col("term").isNull(), 1)
                                     .otherwise(0)),
                               F.lit(0)).alias("n_empty"),
                    F.collect_set("term").alias("terms"))
               .collect()[0])
    if int(shape["n_q"]) == 0:
        raise ValueError("queries DataFrame is empty")
    if int(shape["n_empty"]) > 0:
        raise ValueError(
            f"{int(shape['n_empty'])} of {int(shape['n_q'])} queries "
            f"have no term surviving the {analyzer!r} analyzer")
    pairs = qt.select("query_id", F.explode("__t").alias("term"))
    union_terms = sorted(shape["terms"])
    return pairs, union_terms



def _read_stats(spark: SparkSession, path: str) -> dict:
    """The index's one stats row as a dict."""
    return filesystem_for(spark, path).read_rows(f"{path}/stats")[0]

def _postings(df: DataFrame, id_column: str, text_column: str,
              n_buckets: int, positions: bool = False,
              analyzer: str = "simple", observation=None):
    """(base, tf): per-doc lengths and the bucketed (id, dl, term, tf
    [, positions]) postings frame — shared by build and append.
    ``positions`` adds the sorted 1-based token positions per (doc,
    term) — the phrase-search payload (postings grow by ~1 int per
    corpus token). Positions index the ANALYZED token stream, so under
    a stopword-removing analyzer a phrase matches across elided
    stopwords ("state of the art" ~ "state art") — standard
    stopped-index phrase semantics.

    ``observation`` (a ``pyspark.sql.Observation``) collects
    ``n_docs``/``total_tokens`` DURING whatever action first executes
    the returned frames (r12, guide §1.2): the corpus totals used to
    need a second full tokenize pass over ``df`` after the postings
    write — at corpus scale that is a second read of every byte of
    text just to sum two longs the write pass already had in hand."""
    arr = _analyzer_fn(analyzer)(F.col(text_column))
    base = df.select(
        F.col(id_column).alias("id"),
        F.size(F.filter(arr, lambda x: x != "")).cast("long").alias("dl"),
        arr.alias("__words"),
    )
    if observation is not None:
        base = base.observe(
            observation,
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long")
             .alias("total_tokens"))
    toks = (
        base.select("id", "dl",
                    F.posexplode("__words").alias("__pos0", "term"))
        .filter(F.col("term") != "")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("tf")]
    if positions:
        aggs.append(F.array_sort(
            F.collect_list((F.col("__pos0") + 1).cast("int")))
            .alias("positions"))
    tf = (
        toks.groupBy("id", "dl", "term").agg(*aggs)
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    return base, tf


def _write_postings(tf: DataFrame, path: str, mode: str,
                    batch_id: str) -> None:
    # batch-scoped partition directories (bucket=K/batch=<id>) make one
    # batch's rows physically addressable, which is what lets a retried
    # append clean up after a crashed attempt (see pipeline/indexlog.py)
    (tf.withColumn("batch", F.lit(batch_id))
       .repartition("bucket")
       .sortWithinPartitions("term")
       .write.mode(mode).partitionBy("bucket", "batch")
       .parquet(f"{path}/postings"))


def write_term_index(df: DataFrame, path: str,
                     id_column: str = "doc_id", text_column: str = "text",
                     n_buckets: int = 64, positions: bool = False,
                     analyzer: str = "simple") -> None:
    """Build and persist the inverted index (see module docstring):
    postings and the config row, committed as the ``base`` batch by
    :func:`indexlog.build_index` (log reset first, log row last).
    Rebuilding over a live index is not reader-safe (the postings
    overwrite races a concurrent lister) — build into a fresh path and
    swap (the ``compact_parquet`` rename convention)."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    _analyzer_fn(analyzer)  # fail before touching disk on a bad name
    spark = df.sparkSession
    from pyspark.sql import Observation

    def write(batch_id: str) -> dict:
        obs = Observation()
        base, tf = _postings(df, id_column, text_column, n_buckets,
                             positions, analyzer, observation=obs)
        _write_postings(tf, path, "overwrite", batch_id)
        # totals observed during the postings write itself — no second
        # tokenize pass (see _postings); get() returns instantly since
        # the write action above already ran
        got = obs.get
        totals = {c: int(got[c]) for c in ("n_docs", "total_tokens")}
        # n_buckets and the analyzer name ride the index: probing with
        # a different bucket count silently prunes to the WRONG
        # buckets, and analyzing queries differently than the writer
        # silently misses postings. The n_docs/total_tokens here are
        # informational as-of-build; query totals come from the batch
        # log, which appends keep current.
        filesystem_for(spark, path).write_rows(
            f"{path}/stats",
            [(totals["n_docs"], totals["total_tokens"], n_buckets,
              bool(positions), analyzer)],
            "n_docs long, total_tokens long, n_buckets int,"
            " has_positions boolean, analyzer string")
        return totals

    indexlog.build_index(spark, path, write)


# Pure-Python XXH64 (Collet's public xxHash algorithm), bit-identical
# to Spark's `xxhash64` over a string's UTF-8 bytes at the engine's
# fixed seed 42 — pinned against F.xxhash64 by
# test_xxh64_matches_spark across every tail-length regime and
# non-ASCII input. Replaces the 1-row Spark job `_buckets_of` used to
# launch per search call (r12, guide §5: the driver should compute
# driver-sized things itself, not schedule a job for 20 hashes).
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xx_round(acc: int, lane: int) -> int:
    acc = (acc + lane * _XXP2) & _U64
    return (_rotl64(acc, 31) * _XXP1) & _U64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Signed-64 XXH64 of ``data`` — the value Spark's ``xxhash64``
    column expression produces for the same bytes."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _U64
        v2 = (seed + _XXP2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXP1) & _U64
        while i + 32 <= n:
            v1 = _xx_round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xx_round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _xx_round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _xx_round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7)
             + _rotl64(v3, 12) + _rotl64(v4, 18)) & _U64
        for v in (v1, v2, v3, v4):
            h ^= _xx_round(0, v)
            h = (h * _XXP1 + _XXP4) & _U64
    else:
        h = (seed + _XXP5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        h ^= _xx_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _U64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _XXP1) & _U64
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _U64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _U64
        h = (_rotl64(h, 11) * _XXP1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _U64
    h ^= h >> 29
    h = (h * _XXP3) & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _buckets_of(spark: SparkSession, terms: list[str],
                n_buckets: int) -> list[int]:
    # driver-side twin of the writer's
    # pmod(xxhash64(term), n_buckets): Python's % IS Java's floorMod
    # (== Spark's pmod) for positive n. Was one 1-row Spark job per
    # search call; terms lists are driver-sized by construction (the
    # query's own vocabulary).
    return sorted({_xxh64(t.encode("utf-8")) % n_buckets for t in terms})


def bm25_search(spark: SparkSession, path: str, query_terms,
                k: int = 10, k1: float = 1.2, b: float = 0.75,
                candidates=None, as_of=None,
                query_id_column: str = "query_id",
                query_column: str = "terms",
                micro: bool = False) -> DataFrame:
    """Top-k documents per bag-of-terms query from the persisted index.

    ``query_terms`` is either ONE query — a list of term strings,
    returning (id, bm25) ordered desc, ties by id — or a BATCH:
    ``[(query_id, [terms...]), ...]``, returning (query_id, id, bm25)
    with per-query top-k. The batch form is the offline-eval path: ONE
    pruned postings read for the UNION of all queries' terms and one
    job score every query (a (query_id, term) broadcast fans the
    shared postings out per query), instead of per-query job launches;
    batch query analysis is likewise ONE job for the whole list
    (:func:`_analyze_queries`), never a per-query 1-row job.

    ``query_terms`` may instead be a DATAFRAME of
    (``query_id_column``, ``query_column``) — raw text (string) or a
    term array — for eval sweeps too large to materialize on the
    driver (the :func:`similarity.ivf_search` DataFrame-form
    convention): the analyzer runs as a column expression over the
    whole frame, scoring is the same shared groupBy(query_id, id),
    and nothing query-scale touches the driver — only the term-union
    VOCABULARY (needed for bucket pruning) does, which the list form
    materializes anyway. Results equal the list form bit-for-bit
    (tested).

    Reads only the buckets the terms hash into (partition pruning; the
    bucket count comes from the index's own stats file, never the
    caller) plus a pushed ``term IN (...)`` residual; scoring is the
    same ln-idf BM25 as ``text.bm25_scores`` and the result provably
    matches it (tested).

    ``candidates`` (id list or DataFrame,
    :func:`similarity.candidate_filter`) restricts scoring to a
    metadata-selected subset — filtered retrieval, filter-then-top-k.
    Corpus statistics (idf via per-term doc frequency, avgdl, n_docs)
    stay CORPUS-wide: the filter narrows which documents compete, not
    what words mean — doc frequencies are therefore aggregated from
    the pruned postings read BEFORE the candidate restriction, so a
    document's filtered score equals its unfiltered score (tested; the
    r9 ADVICE fix — df from the filtered subset inflated idf for
    corpus-common terms with few candidates).

    ``as_of`` (a batch set captured from ``indexlog.committed_batches``
    / ``log_snapshot``, or an ISO-8601 timestamp) pins the read:
    identical results — postings, doc frequencies, AND the corpus
    totals scoring uses — no matter what appends or compactions commit
    in between (:func:`indexlog.resolve_as_of`; validity ends when
    vacuum purges a pinned batch, which fails loudly here).

    ``micro=True`` swaps the log idf for its rational core and emits
    INTEGER micro-scores (column ``bm25_micro``) from a fixed IEEE
    op sequence — exactly :func:`text.bm25_scores`'s micro mode over
    the persisted postings, ranking-equivalent to the float form and
    reproducible bit-for-bit by an external SQL engine (ln differs in
    the last ulp across libm builds; products, sums and one
    floor(×1e6) division do not). Only ``k1=1.2, b=0.75`` are
    supported in micro mode: the constants 2.2, 0.3 and 0.9 appear
    literally so both engines parse identical doubles.
    """
    if micro and (k1, b) != (1.2, 0.75):
        raise ValueError("micro mode fixes k1=1.2, b=0.75")
    stats = _read_stats(spark, path)
    analyzer = stats.get("analyzer", "simple")
    # queries go through the INDEX's analyzer (stats row), so stemming/
    # stopping is symmetric with what the writer indexed
    if isinstance(query_terms, DataFrame):
        single = False
        qterms, union_terms = _df_query_terms(
            query_terms, analyzer, query_id_column, query_column)
    else:
        # batch form: [(query_id, [terms...]), ...] — detected by
        # shape so lists work as well as tuples; a plain term list
        # stays the single form
        single = not (
            query_terms
            and isinstance(query_terms[0], (tuple, list))
            and len(query_terms[0]) == 2
            and isinstance(query_terms[0][1], (list, tuple)))
        queries = [(0, query_terms)] if single else list(query_terms)
        if not queries or any(not terms for _, terms in queries):
            raise ValueError("query_terms must be non-empty (every "
                             "batch entry needs at least one term)")
        per_query = _analyze_queries(spark, analyzer, queries)
        union_terms = sorted({t for _, ts in per_query for t in ts})
        if not single:
            from dsgrid_spark.pipeline.pq import query_id_type
            from dsgrid_spark.session import one_slice_df

            qid_type = query_id_type(per_query)
            qterms = F.broadcast(one_slice_df(
                spark,
                [(qid, t) for qid, ts in per_query for t in ts],
                f"query_id {qid_type}, term string"))
    # ONE log read yields both the committed-batch filter and the corpus
    # totals — a commit landing mid-query can't produce a mixed view
    # (new totals scoring old postings or vice versa)
    committed, totals = indexlog.log_snapshot(
        spark, path, "n_docs", "total_tokens", as_of=as_of)
    n_docs, total = totals["n_docs"], totals["total_tokens"]
    buckets = _buckets_of(spark, union_terms, stats["n_buckets"])
    from dsgrid_spark.pipeline.similarity import candidate_filter

    post_all = (
        indexlog.read_committed(spark, path, "postings", ids=committed)
        .filter(F.col("bucket").isin(buckets)
                & F.col("term").isin(union_terms))
        .select("id", "dl", "term", "tf"))  # positions stay on disk
    # doc frequency from the SAME pruned committed-filtered read the
    # scoring scans — never from a derived table rewritten in place
    # (reader isolation, module docstring) — and BEFORE the candidate
    # restriction (corpus-wide idf, docstring); map-side combine makes
    # this one extra narrow aggregate over rows already in flight
    dfreq = post_all.groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                         .alias("df"))
    post = candidate_filter(post_all, candidates)
    n = F.lit(float(n_docs))
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    if micro:
        # literal-for-literal the fixed IEEE sequence text.bm25_scores
        # runs in micro mode (and its SQL oracle reproduces):
        # num = ((2N - 2df) + 1) * tf * 2.2
        # den = (2df + 1) * ((tf + 0.3) + (0.9 * N / T) * dl)
        dfreq_d = F.col("df").cast("double")
        num = (F.lit(2.0) * n - F.lit(2.0) * dfreq_d + F.lit(1.0)) \
            * tf * F.lit(2.2)
        den = (F.lit(2.0) * dfreq_d + F.lit(1.0)) * (
            (tf + F.lit(0.3))
            + (F.lit(0.9) * n / F.lit(float(total))) * dl)
        per_term = F.floor(F.lit(1000000.0) * num / den).cast("long")
        score_name = "bm25_micro"
    else:
        avgdl = F.lit(float(total) / float(n_docs))
        idf = F.log(F.lit(1.0)
                    + (n - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5)))
        per_term = idf * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
        score_name = "bm25"
    if single:
        scored = (
            post.join(F.broadcast(dfreq), "term")
            .groupBy("id").agg(F.sum(per_term).alias(score_name))
        )
        return scored.orderBy(F.desc(score_name), F.asc("id")).limit(k)
    from pyspark.sql import Window

    # the (query_id, term) fan-out frame: a broadcast one-slice table
    # for the list form (built above), the analyzed query frame itself
    # for the DataFrame form — the join fans the SHARED pruned
    # postings out per query either way
    scored = (
        post.join(F.broadcast(dfreq), "term").join(qterms, "term")
        .groupBy("query_id", "id").agg(F.sum(per_term).alias(score_name))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(score_name),
                                               F.asc("id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def append_term_index(df: DataFrame, path: str,
                      id_column: str = "doc_id",
                      text_column: str = "text",
                      batch_id: str | None = None) -> bool:
    """Append a new document batch to an existing index WITHOUT
    re-tokenizing the existing corpus — the 100 TB maintenance path
    (a 1% ingest batch should cost 1% of a build, not a rebuild).

    Only the new batch is tokenized, landing in batch-scoped partition
    directories (``bucket=K/batch=<id>``); corpus totals are carried as
    the batch's log-entry delta (queries sum the log). NOTHING else is
    touched — no derived table rewrite, no stats rewrite — so the
    append's only mutation is append-only directories plus the final
    log commit, and concurrent searches see the old index until that
    commit lands (reader isolation, module docstring).

    The append is exactly-once per ``batch_id``
    (:func:`indexlog.append_batch`). Returns True when the batch was
    ingested, False for a replayed id.

    Results provably equal a fresh build over the concatenated corpus
    (tested), searches included.
    """
    spark = df.sparkSession
    stats = _read_stats(spark, path)
    from pyspark.sql import Observation

    def write(batch_id: str, gen: str | None) -> dict:
        obs = Observation()
        base, tf = _postings(df, id_column, text_column,
                             int(stats["n_buckets"]),
                             bool(stats.get("has_positions", False)),
                             stats.get("analyzer", "simple"),
                             observation=obs)
        _write_postings(tf, path, "append", batch_id)
        # batch totals observed during the postings write — the append
        # used to re-tokenize its batch for two longs (r12, see
        # _postings)
        got = obs.get
        return {c: int(got[c]) for c in ("n_docs", "total_tokens")}

    return indexlog.append_batch(spark, path, batch_id, write)


def rrf_fuse(ranked: list[DataFrame], id_column: str = "id",
             score_column: str = "score",
             group_columns: tuple[str, ...] = (),
             k: int = 60) -> DataFrame:
    """Reciprocal Rank Fusion of N candidate lists (Cormack, Clarke &
    Buettcher, SIGIR 2009): ``rrf(d) = sum_i 1/(k + rank_i(d))``, the
    standard score-free way to combine a lexical (BM25) and a semantic
    (ANN) retriever — hybrid search. Items missing from a list
    contribute 0 for it.

    Each input needs (``group_columns``..., id, score); ranks are
    derived here as ``row_number`` over (score desc, id) per group, so
    fusion is deterministic regardless of how the retrievers tie-break,
    and the fused score is a fixed-order row EXPRESSION (never an
    aggregation) — bit-reproducible across engines.

    Scale: inputs are top-k candidate lists, i.e. already reduced to
    (queries x k) rows by their retrievers — the windows and N-way
    full-outer join here run on candidates, never on the corpus. With
    no ``group_columns`` the rank window is global, which is the point
    (a single fused list); pass the query-id column(s) for per-query
    fusion.
    """
    if not ranked:
        raise ValueError("ranked must be non-empty")
    if k < 1:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    keys = [*group_columns, id_column]
    fused = None
    for i, df in enumerate(ranked):
        w = (Window.partitionBy(*[F.col(c) for c in group_columns])
             .orderBy(F.desc(score_column), F.asc(id_column)))
        r = df.select(*keys, F.row_number().over(w).alias(f"__r{i}"))
        fused = r if fused is None else fused.join(r, keys, "full_outer")
    score = None
    for i in range(len(ranked)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"__r{i}")).cast("double"),
            F.lit(0.0))
        score = term if score is None else score + term
    return fused.select(*keys, score.alias("rrf"))


def phrase_search(spark: SparkSession, path: str, phrase: str,
                  as_of=None) -> DataFrame:
    """Documents containing the EXACT token phrase, with occurrence
    counts, from a positions-enabled index (``write_term_index(...,
    positions=True)``).

    Classic positional-postings intersection: read each phrase slot's
    postings (bucket-pruned, like bm25_search), join them on the doc id,
    and keep the start positions p of slot 0 for which slot i contains
    p + i for every i — a per-row array filter, no explode. The joins
    carry only docs containing ALL phrase terms (inner joins shrink
    monotonically). Returns (id, n_matches), n_matches >= 1.

    The phrase is analyzed with the INDEX's analyzer; positions index
    the analyzed stream, so under a stopword-removing analyzer the
    phrase matches across elided stopwords (see ``_postings``).
    ``as_of`` pins the read (indexlog.resolve_as_of / a timestamp),
    like every other persisted search.
    """
    stats = _read_stats(spark, path)
    if not bool(stats.get("has_positions", False)):
        raise ValueError(
            "index was built without positions=True; rebuild to enable "
            "phrase search")
    terms = _analyze_query(spark, stats.get("analyzer", "simple"),
                           phrase.strip().split())
    if not terms:
        raise ValueError("phrase must contain at least one analyzed term")
    committed = indexlog.resolve_batches(spark, path, as_of)
    n_buckets = int(stats["n_buckets"])
    buckets = _buckets_of(spark, sorted(set(terms)), n_buckets)
    post = (
        indexlog.read_committed(spark, path, "postings", ids=committed)
        .filter(F.col("bucket").isin(buckets)
                & F.col("term").isin(sorted(set(terms))))
        .select("id", "term", "positions")
    )

    def slot(i):
        return (post.filter(F.col("term") == terms[i])
                .select("id", F.col("positions").alias(f"__p{i}")))

    acc = slot(0).withColumnRenamed("__p0", "__starts")
    for i in range(1, len(terms)):
        acc = acc.join(slot(i), "id").withColumn(
            "__starts",
            F.filter(F.col("__starts"),
                     lambda p: F.array_contains(F.col(f"__p{i}"),
                                                p + F.lit(i))),
        ).drop(f"__p{i}")
    return (
        acc.select("id", F.size("__starts").cast("long").alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


def phrase_search_batch(spark: SparkSession, path: str, phrases,
                        query_id_column: str = "query_id",
                        phrase_column: str = "phrase",
                        as_of=None) -> DataFrame:
    """Batch/DataFrame phrase search — the positional twin of
    :func:`bm25_search`'s batch forms, completing the two-query-shapes
    story for every retrieval operator. ``phrases`` is
    ``[(query_id, "phrase"), ...]`` (analyzed in ONE job, the
    :func:`_analyze_queries` discipline) or a DataFrame of
    (``query_id_column``, ``phrase_column``) for sweeps too large to
    materialize on the driver. Returns (query_id, id, n_matches),
    n_matches >= 1, equal to running :func:`phrase_search` per phrase
    (tested).

    Shape: ONE pruned postings read for the UNION of all phrases'
    terms, one (slot, term) fan-out join, one groupBy(query_id, id)
    collecting each doc's per-slot position arrays, then the phrase
    check as a pure array expression — start positions p of slot 0
    for which every later slot i contains p + i (``forall`` over the
    sorted slot structs; variable phrase lengths ride the data, not
    the plan, so ONE plan serves the whole batch where the single
    form builds one join per slot). A doc must hit ALL of a phrase's
    slots to survive the count filter, so partial matches never reach
    the position check. Driver state is bounded by the phrase list
    (list form) or the term-union vocabulary (DataFrame form).
    """
    stats = _read_stats(spark, path)
    if not bool(stats.get("has_positions", False)):
        raise ValueError(
            "index was built without positions=True; rebuild to enable "
            "phrase search")
    analyzer = stats.get("analyzer", "simple")
    committed = indexlog.resolve_batches(spark, path, as_of)
    arr_of = lambda c: F.filter(_analyzer_fn(analyzer)(c),  # noqa: E731
                                lambda t: t != "")
    if isinstance(phrases, DataFrame):
        qt = phrases.select(
            F.col(query_id_column).alias("query_id"),
            arr_of(F.col(phrase_column).cast("string")).alias("__t"))
        # ONE action for shape validation AND the term union (the
        # _df_query_terms discipline, r12): explode_outer gives each
        # empty phrase exactly one null-term row, and collect_set's
        # state is vocabulary-bounded (partial-deduped per task)
        shape = (qt.select("query_id",
                           F.explode_outer("__t").alias("term"))
                   .agg(F.count_distinct("query_id").alias("n_q"),
                        F.coalesce(
                            F.sum(F.when(F.col("term").isNull(), 1)
                                  .otherwise(0)),
                            F.lit(0)).alias("n_empty"),
                        F.collect_set("term").alias("terms"))
                   .collect()[0])
        if int(shape["n_q"]) == 0:
            raise ValueError("phrases DataFrame is empty")
        if int(shape["n_empty"]) > 0:
            raise ValueError(
                f"{int(shape['n_empty'])} of {int(shape['n_q'])} "
                f"phrases have no term surviving the {analyzer!r} "
                f"analyzer")
        slots = qt.select("query_id",
                          F.posexplode("__t").alias("slot", "term"))
        nslots = qt.select("query_id", F.size("__t").alias("__n_slots"))
        union_terms = sorted(shape["terms"])
    else:
        qlist = list(phrases)
        if not qlist:
            raise ValueError("phrases must be non-empty")
        _check_unique_query_ids([qid for qid, _ in qlist], "phrases")
        from dsgrid_spark.pipeline.pq import query_id_type
        from dsgrid_spark.session import one_slice_df

        qid_type = query_id_type(qlist)
        raw = one_slice_df(
            spark, [(qid, str(p)) for qid, p in qlist],
            f"query_id {qid_type}, __raw string")
        # ONE job analyzes the whole batch, ORDER AND DUPLICATES kept
        # (phrases need both — sorted(set()) would break slot alignment)
        rows = raw.select("query_id",
                          arr_of(F.col("__raw")).alias("t")).collect()
        terms_of = {r["query_id"]: list(r["t"]) for r in rows}
        for qid, p in qlist:
            if not terms_of[qid]:
                raise ValueError(
                    f"no term of phrase {p!r} survives the "
                    f"{analyzer!r} analyzer (query {qid!r})")
        slots = F.broadcast(one_slice_df(
            spark,
            [(qid, i, t) for qid, ts in terms_of.items()
             for i, t in enumerate(ts)],
            f"query_id {qid_type}, slot int, term string"))
        nslots = F.broadcast(one_slice_df(
            spark,
            [(qid, len(ts)) for qid, ts in terms_of.items()],
            f"query_id {qid_type}, __n_slots int"))
        union_terms = sorted({t for ts in terms_of.values() for t in ts})
    buckets = _buckets_of(spark, union_terms, int(stats["n_buckets"]))
    post = (
        indexlog.read_committed(spark, path, "postings", ids=committed)
        .filter(F.col("bucket").isin(buckets)
                & F.col("term").isin(union_terms))
        .select("id", "term", "positions"))
    hits = post.join(slots, "term")
    # one posting row joins each slot that wants its term, so the hit
    # count equals the number of SLOTS present in the doc — == n_slots
    # iff every slot's term occurs (duplicate phrase terms included)
    g = (hits.groupBy("query_id", "id")
         .agg(F.count(F.lit(1)).alias("__n_present"),
              F.array_sort(F.collect_list(F.struct(
                  F.col("slot").alias("s"),
                  F.col("positions").alias("p")))).alias("__sp")))
    full = (g.join(nslots, "query_id")
            .filter(F.col("__n_present") == F.col("__n_slots")))
    first_p = F.element_at(F.col("__sp"), 1)["p"]
    rest = F.expr("slice(__sp, 2, size(__sp) - 1)")
    starts = F.filter(
        first_p,
        lambda p: F.forall(rest,
                           lambda s: F.array_contains(s["p"],
                                                      p + s["s"])))
    return (full.select("query_id", "id",
                        F.size(starts).cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def hybrid_search(spark: SparkSession, term_path: str, vector_path: str,
                  query_terms: list[str], query_vector: list[float],
                  k: int = 10, k_each: int = 50, n_probe: int = 4,
                  rrf_k: int = 60, candidates=None,
                  term_as_of=None, vector_as_of=None) -> DataFrame:
    """One-call hybrid retrieval over PERSISTED indexes: BM25 top-k_each
    from the term index, vector top-k_each from whichever ANN index
    lives at ``vector_path`` (IVF / PQ / binary — detected from the
    layout), fused with Reciprocal Rank Fusion (:func:`rrf_fuse`).
    Returns (id, rrf) descending, ties by id — the standard lexical +
    semantic recipe, score-free so neither side's scale dominates.

    Both retrievers run over candidate lists bounded by construction
    (each reduced to k_each rows before the fuse joins), and both
    accept the same ``candidates`` restriction for filtered hybrid
    search. ``k_each`` is the fusion pool depth — at least k, usually
    several times k so a document ranked modestly by BOTH retrievers
    can beat one ranked well by a single side (the RRF premise).

    ``term_as_of`` / ``vector_as_of`` pin each index's read
    independently (two indexes, two logs, two pins — capture each
    side's ``indexlog.committed_batches`` or pass ISO-8601
    timestamps): the fused result then reproduces through appends and
    compactions on BOTH sides, the same contract every underlying
    search carries.
    """
    if k_each < k:
        raise ValueError(f"k_each ({k_each}) must be >= k ({k})")
    lex = (bm25_search(spark, term_path, query_terms, k=k_each,
                       candidates=candidates, as_of=term_as_of)
           .select("id", F.col("bm25").alias("score")))
    # int query id 0: the single-query convention every persisted
    # search accepts (ivf_search's probe frame types query_id as long)
    vec = _vector_search(
        spark, vector_path, [(0, [float(x) for x in query_vector])],
        k=k_each, n_probe=n_probe, candidates=candidates,
        as_of=vector_as_of
    ).drop("query_id")
    fused = rrf_fuse([lex, vec], id_column="id", k=rrf_k)
    return fused.orderBy(F.desc("rrf"), F.asc("id")).limit(k)


def _vector_search(spark: SparkSession, vector_path: str,
                   queries, k: int, n_probe: int,
                   candidates,
                   query_id_column: str = "query_id",
                   vector_column: str = "embedding",
                   as_of=None) -> DataFrame:
    """(query_id, id, score) from whichever ANN index lives at
    ``vector_path`` (hybrid_search's dispatch, factored for the batch
    path). ``queries`` is a [(query_id, vector), ...] list OR a
    DataFrame of (``query_id_column``, ``vector_column``) — every
    persisted ANN search accepts both forms already."""
    from dsgrid_spark.pipeline.stream_index import index_kind

    kind = index_kind(spark, vector_path)
    if kind == "ivf":
        from dsgrid_spark.pipeline.similarity import ivf_search
        vec = ivf_search(spark, vector_path, queries, k=k,
                         n_probe=n_probe, candidates=candidates,
                         query_id_column=query_id_column,
                         vector_column=vector_column, as_of=as_of)
    elif kind == "binary":
        from dsgrid_spark.pipeline.similarity import hamming_search
        vec = hamming_search(spark, vector_path, queries, k=k,
                             n_probe=n_probe, candidates=candidates,
                             query_id_column=query_id_column,
                             vector_column=vector_column, as_of=as_of)
    elif kind == "pq":
        from dsgrid_spark.pipeline.pq import pq_search
        vec = pq_search(spark, vector_path, queries, k=k,
                        n_probe=n_probe, candidates=candidates,
                        query_id_column=query_id_column,
                        vector_column=vector_column, as_of=as_of)
    else:
        raise ValueError(f"no vector index at {vector_path!r} "
                         f"(found kind {kind!r})")
    score_col = "score" if "score" in vec.columns else "hamming"
    vscore = (F.col(score_col) if score_col == "score"
              # bits-only binary index: Hamming ASCENDS; negate so the
              # shared desc-rank convention holds
              else (-F.col("hamming")).cast("double"))
    return vec.select("query_id", "id", vscore.alias("score"))


def hybrid_search_batch(spark: SparkSession, term_path: str,
                        vector_path: str,
                        queries,
                        k: int = 10, k_each: int = 50, n_probe: int = 4,
                        rrf_k: int = 60, candidates=None,
                        query_id_column: str = "query_id",
                        terms_column: str = "terms",
                        vector_column: str = "embedding",
                        term_as_of=None, vector_as_of=None) -> DataFrame:
    """Batch hybrid retrieval: ``queries`` is
    ``[(query_id, [terms...], vector), ...]`` and the result is
    (query_id, id, rrf) with per-query top-k — equal to running
    :func:`hybrid_search` per query (tested) at a fraction of the
    launches: ONE batched BM25 job over the union of terms
    (:func:`bm25_search`'s batch form), ONE ANN search over the query
    list (every persisted ANN search already takes one), and ONE
    per-query RRF fuse (:func:`rrf_fuse` with ``query_id`` as the
    rank-window group). The offline-eval sweep path: a 1k-query set is
    3 jobs, not 2k.

    ``queries`` may instead be a DATAFRAME of (``query_id_column``,
    ``terms_column``, ``vector_column``) for sweeps too large to
    materialize on the driver: BM25 runs its DataFrame form (analyzer
    as a column expression, :func:`bm25_search`) and the ANN side its
    DataFrame form (distributed probe ranking, join-based re-rank) —
    nothing query-scale touches the driver beyond the term-union
    vocabulary. Equal to the list form bit-for-bit (tested).
    """
    if k_each < k:
        raise ValueError(f"k_each ({k_each}) must be >= k ({k})")
    if isinstance(queries, DataFrame):
        lex = (bm25_search(spark, term_path,
                           queries.select(query_id_column, terms_column),
                           k=k_each, candidates=candidates,
                           query_id_column=query_id_column,
                           query_column=terms_column, as_of=term_as_of)
               .select("query_id", "id", F.col("bm25").alias("score")))
        vec = _vector_search(
            spark, vector_path,
            queries.select(query_id_column, vector_column),
            k=k_each, n_probe=n_probe, candidates=candidates,
            query_id_column=query_id_column,
            vector_column=vector_column, as_of=vector_as_of)
        fused = rrf_fuse([lex, vec], id_column="id",
                         group_columns=("query_id",), k=rrf_k)
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("rrf"),
                                                   F.asc("id"))
        return (fused.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k).drop("__rn"))
    if not queries:
        raise ValueError("queries must be non-empty")
    _check_unique_query_ids([qid for qid, _, _ in queries])
    lex = (bm25_search(spark, term_path,
                       [(qid, terms) for qid, terms, _ in queries],
                       k=k_each, candidates=candidates,
                       as_of=term_as_of)
           .select("query_id", "id", F.col("bm25").alias("score")))
    vec = _vector_search(
        spark, vector_path,
        [(qid, [float(x) for x in v]) for qid, _, v in queries],
        k=k_each, n_probe=n_probe, candidates=candidates,
        as_of=vector_as_of)
    fused = rrf_fuse([lex, vec], id_column="id",
                     group_columns=("query_id",), k=rrf_k)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("id"))
    return (fused.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))
