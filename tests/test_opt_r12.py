"""Round-12 OPTIMIZATION tests: each one pins the behavior an
optimization changed — expression twins bit-identical to the
Column-API builds they replaced, single-action analysis phases, and
shuffles removed from near-dup and multi-probe plans."""

from __future__ import annotations


def test_incremental_dedup_shared_batch_side_parity(spark):
    """The r12 reuse kwargs (new_uniq + within_drop from
    within_batch_drop) return EXACTLY the plain incremental_dedup
    survivors — the q30 shape where one batch is deduped against two
    references pays the batch-side work once."""
    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.dedup import (band_signatures, exact_dedup,
                                             incremental_dedup,
                                             minhash_signatures,
                                             within_batch_drop)

    base = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "one two three four five six seven eight nine ten"),
    ]
    batch = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota NOPE"),
        (11, "spark catalyst tungsten shuffle broadcast partition codegen"
             " adaptive skew salt"),
        (12, "spark catalyst tungsten shuffle broadcast partition codegen"
             " adaptive skew salt"),
        (13, "spark catalyst tungsten shuffle broadcast partition codegen"
             " adaptive skew SALTY"),
    ]
    ref = spark.createDataFrame(base, "doc_id long, text string")
    new = spark.createDataFrame(batch, "doc_id long, text string")
    ref_sigs = minhash_signatures(ref, num_hashes=64, shingle_k=3)
    plain = sorted(r["doc_id"] for r in incremental_dedup(
        new, ref_sigs, ref, num_hashes=64, num_bands=32,
        shingle_k=3, threshold=0.5).collect())

    new_uniq = exact_dedup(new, "text", "doc_id").persist()
    new_sigs = minhash_signatures(new_uniq, num_hashes=64, shingle_k=3)
    bn = band_signatures(new_sigs, "doc_id", 32, 64).persist()
    bn.count()
    wb_drop = within_batch_drop(new_uniq, new_sigs, "text", "doc_id",
                                num_hashes=64, num_bands=32, shingle_k=3,
                                threshold=0.5, bands=bn)
    shared = sorted(r["doc_id"] for r in incremental_dedup(
        new, ref_sigs, ref, num_hashes=64, num_bands=32,
        shingle_k=3, threshold=0.5, new_sigs=new_sigs, new_bands=bn,
        new_uniq=new_uniq, within_drop=wb_drop).collect())
    assert shared == plain == [11]

    # the within-batch drop set holds the NEAR dups among exact-uniques:
    # 12 (exact dup of 11) is already collapsed by exact_dedup before
    # the LSH pass, so only 13 (near dup of 11) appears here
    dropped = sorted(r["doc_id"] for r in wb_drop.collect())
    assert dropped == [13]

    # guard: within_drop without within_batch is a contract error
    import pytest as _pytest
    with _pytest.raises(ValueError):
        incremental_dedup(new, ref_sigs, ref, within_batch=False,
                          within_drop=wb_drop)


def test_assign_scores_match_column_api_literal(spark):
    """The broadcast-row assignment scores every centroid with the same
    fold as a Column-API expression over literal centroid arrays, so
    every score double and every argmax pick match exactly (both dot
    and cosine forms)."""
    import random

    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.similarity import (_matrix_row,
                                                  assign_nearest_centroid,
                                                  cosine, dot)

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    cents = [[random.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    for normalized in (True, False):
        score_of = dot if normalized else cosine
        lit_scores = F.array(*[
            score_of(F.col("v"), F.array(*[F.lit(x) for x in c]))
            for c in cents])
        row_scores = F.transform("__cents", lambda c: score_of(F.col("v"), c))
        a = df.crossJoin(_matrix_row(spark, cents, "__cents")).select(
            "id", row_scores.alias("s"))
        b = df.select("id", lit_scores.alias("s"))
        # exact float equality — bit-identical, not approximately equal
        assert sorted((r["id"], list(r["s"])) for r in a.collect()) == \
            sorted((r["id"], list(r["s"])) for r in b.collect())
        got = assign_nearest_centroid(df, cents, "v",
                                      assume_normalized=normalized)
        want = df.withColumn(
            "__cluster",
            (F.array_position(lit_scores, F.array_max(lit_scores)) - 1)
            .cast("int"))
        assert sorted((r["id"], r["__cluster"]) for r in got.collect()) == \
            sorted((r["id"], r["__cluster"]) for r in want.collect())


def test_xxh64_matches_spark(spark):
    """The driver-side XXH64 is bit-identical to F.xxhash64 (seed 42)
    over UTF-8 bytes — every tail-length regime (0..33+ bytes), long
    stripes, and non-ASCII text."""
    import random

    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.retrieval import _buckets_of, _xxh64

    random.seed(11)
    cases = ["", "a", "ab", "abc", "abcd", "abcde", "hello world",
             "x" * 7, "x" * 8, "x" * 9, "x" * 31, "x" * 32, "x" * 33,
             "x" * 64, "x" * 100, "état", "naïve café", "日本語テキスト",
             "🎉emoji🎉", "tab\tnew\nline"]
    for _ in range(200):
        ln = random.randint(0, 120)
        cases.append("".join(chr(random.randint(32, 0x2FA0))
                             for _ in range(ln)))
    rows = [(i, s) for i, s in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, s string")
    got = {r["i"]: r["h"]
           for r in df.select("i", F.xxhash64("s").alias("h")).collect()}
    for i, s in rows:
        assert got[i] == _xxh64(s.encode("utf-8")), repr(s)

    # _buckets_of == the writer's pmod(xxhash64(term), n_buckets)
    terms = [s for s in cases if s][:40]
    for n_buckets in (1, 2, 8, 64):
        want = sorted({r["b"] for r in spark.createDataFrame(
            [(t,) for t in terms], "t string").select(
            F.pmod(F.xxhash64("t"), F.lit(n_buckets)).alias("b"))
            .collect()})
        assert _buckets_of(spark, terms, n_buckets) == want, n_buckets


def test_dedup_sql_twins_match_column_api(spark):
    """The SQL-string forms of the dedup expression builders (shingles,
    minhash fold, banding, simhash fold) are bit-identical to the
    Column-API twins they replaced — the rewrite only changes HOW the
    expression tree reaches the JVM (one parsed string vs hundreds of
    py4j round trips), never a value. All-integer/string ops, so any
    mismatch is a real semantic break, not rounding."""
    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.dedup import (
        _minhash_column_api,
        _shingles_column_api,
        _simhash_column_api,
        band_signatures,
        minhash_signatures,
        shingles,
        simhash,
    )

    rows = [(i, f"The w{i} Quick; brown FOX-{i}! jumps over lazy dog "
                f"num {i * 7} and some more words to shingle end{i}")
            for i in range(40)]
    rows += [(100 + i, t.upper()) for i, (_, t) in enumerate(rows[:10])]
    rows += [(200, ""), (201, "one"), (202, "two words"),
             (203, "exactly five words right here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for k in (2, 5):
        got = df.select("doc_id", shingles("text", k).alias("s")) \
            .orderBy("doc_id").collect()
        want = df.select("doc_id",
                         _shingles_column_api("text", k).alias("s")) \
            .orderBy("doc_id").collect()
        assert got == want

    for nh, sk, seed in ((32, 5, 42), (16, 3, 7)):
        got = minhash_signatures(df, "text", nh, sk, seed) \
            .orderBy("doc_id").collect()
        want = _minhash_column_api(df, "text", nh, sk, seed) \
            .orderBy("doc_id").collect()
        assert got == want

    sigs = minhash_signatures(df, "text")
    for nb, sl in ((4, None), (8, 32)):
        got = band_signatures(sigs, num_bands=nb, signature_length=sl) \
            .orderBy("doc_id", "band").collect()
        # Column-API twin of the banding projection (pre-r12 form)
        if sl is not None:
            rpb = F.lit(sl // nb or 1)
        else:
            rpb = F.greatest(
                F.floor(F.size("minhash") / nb).cast("int"), F.lit(1))
        want = sigs.select(
            "doc_id",
            F.posexplode(F.array(*[
                F.xxhash64(F.concat_ws(",", F.transform(
                    F.slice("minhash", F.lit(b) * rpb + 1, rpb),
                    lambda x: x.cast("string"))))
                for b in range(nb)
            ])).alias("band", "band_hash"),
        ).orderBy("doc_id", "band").collect()
        assert got == want

    got = df.select("doc_id", simhash("text").alias("sh")) \
        .orderBy("doc_id").collect()
    want = df.select("doc_id", _simhash_column_api("text").alias("sh")) \
        .orderBy("doc_id").collect()
    assert got == want


def test_bloom_sql_twin_matches_column_api(spark):
    """might_contain's inlined-SQL fast path (string key, filter under
    the word cap) is bit-identical to the Column-API path it fronts —
    including words with the sign bit set and Long.MIN_VALUE, which the
    SQL literal printer must render without ANSI overflow. The probe
    SQL twin must also equal the Column probe expressions exactly
    (integer hashing: any mismatch is semantic, not rounding)."""
    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.bloom import (
        BloomFilter,
        _SQL_INLINE_WORD_CAP,
        _probe_positions,
        _probe_sql,
        build_bloom,
        might_contain,
    )

    keys = spark.range(0, 3000).selectExpr("concat('k', id) AS k")
    bloom = build_bloom(keys.filter("id % 3 = 0"), "k",
                        expected_items=1000, fpp=0.01)
    got = keys.select("k", might_contain(bloom, "k").alias("hit")) \
        .orderBy("k").collect()
    want = keys.select("k", might_contain(bloom, F.col("k")).alias("hit")) \
        .orderBy("k").collect()
    assert got == want

    # probe twins: same positions, element by element
    probes = keys.select(
        F.array(*_probe_positions(F.col("k"), bloom.num_bits,
                                  bloom.num_hashes)).alias("a"),
        F.expr("array(%s)" % ", ".join(
            _probe_sql("`k`", bloom.num_bits, bloom.num_hashes))).alias("b"),
    ).where("a != b").count()
    assert probes == 0

    # extreme word values survive the SQL literal printer
    hostile = BloomFilter(num_bits=256, num_hashes=3,
                          words=(-(1 << 63), -1, (1 << 63) - 1, 0))
    got = keys.select(might_contain(hostile, "k").alias("h")).collect()
    want = keys.select(might_contain(hostile, F.col("k")).alias("h")) \
        .collect()
    assert got == want

    # oversized filter falls back to the Column path, same answer
    big = BloomFilter(num_bits=(_SQL_INLINE_WORD_CAP + 1) * 64,
                      num_hashes=2,
                      words=tuple([-1] * (_SQL_INLINE_WORD_CAP + 1)))
    assert keys.filter(~might_contain(big, "k")).count() == 0


def test_df_query_terms_single_action(spark):
    """The DF-form analysis phase validates shape AND collects the
    term-union vocabulary in ONE driver action (r12: was a shape
    aggregate plus a distinct-collect — 4 jobs under AQE at this
    fixture's shape; the merged form runs 3, the stage-jobs of one
    collect). Values must equal the two-action form's exactly, and
    both error paths must survive the merge."""
    import pytest
    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.retrieval import _df_query_terms

    qdf = spark.createDataFrame(
        [(i, f"term{i} shared word{i % 7}") for i in range(50)],
        "query_id long, terms string")
    sc = spark.sparkContext
    sc.setJobGroup("dfterms-one-action", "merged analysis")
    try:
        pairs, union_terms = _df_query_terms(qdf, "simple",
                                             "query_id", "terms")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("dfterms-one-action")
    assert len(jobs) <= 3, f"analysis ran {len(jobs)} jobs (one action = 3)"
    # the union is exactly the distinct set of the pairs frame
    want = sorted(r["term"] for r in
                  pairs.select("term").distinct().collect())
    assert union_terms == want
    assert "shared" in union_terms and len(union_terms) == 58

    empty = spark.createDataFrame([], "query_id long, terms string")
    with pytest.raises(ValueError, match="empty"):
        _df_query_terms(empty, "simple", "query_id", "terms")
    stopped = spark.createDataFrame(
        [(0, "the of and"), (1, "spark shuffle")],
        "query_id long, terms string")
    with pytest.raises(ValueError, match="1 of 2"):
        _df_query_terms(stopped, "english", "query_id", "terms")


def test_cosine_neardup_pairs_no_distinct_shuffle(spark):
    """cosine_neardup_pairs emits each qualifying pair exactly once
    WITHOUT a trailing distinct (r12, guide §2.4: the self-join on
    id_a < id_b with unique ids — and one LSH bucket per row when
    blocking — never duplicates a pair, so the old distinct() was a
    full shuffle of the surviving pair set for nothing). Pins pair
    uniqueness on both paths and the Exchange-free unblocked plan."""
    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.similarity import cosine_neardup_pairs

    base = spark.createDataFrame(
        [(i, [float(i + 1), float(2 * i + 1), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>")
    # scaled copies => cosine exactly 1.0 against their originals
    dups = base.select((F.col("vec_id") + 1000).alias("vec_id"),
                       F.transform("embedding", lambda x: x * 2.0)
                       .alias("embedding"))
    corpus = base.unionByName(dups)

    out = cosine_neardup_pairs(corpus, threshold=0.999)
    rows = [(r["id_a"], r["id_b"]) for r in out.collect()]
    assert len(rows) == len(set(rows)), "pairs must be unique w/o distinct"
    assert set(rows) >= {(i, i + 1000) for i in range(30)}
    # the unblocked path needs NO shuffle at all now: the distinct's
    # Exchange + two HashAggregates are gone from the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    assert "HashAggregate" not in plan, plan[:800]

    # blocked path: one bucket per row => still no duplicate pairs
    blocked = cosine_neardup_pairs(corpus, threshold=0.999, dim=3,
                                   n_planes=4)
    brows = [(r["id_a"], r["id_b"]) for r in blocked.collect()]
    assert len(brows) == len(set(brows))
    # LSH keeps scaled copies together (same signs on every plane)
    assert set(brows) >= {(i, i + 1000) for i in range(30)}


def test_lsh_topk_multiprobe_no_dedup_shuffle(spark):
    """Multi-probe lsh_topk needs no (query, id) dedup (r12, guide
    §2.4): a corpus row has ONE bucket and a query's probe buckets are
    pairwise-distinct values, so each (query, corpus row) matches at
    most once. Pins: probe buckets distinct per input row, multi-probe
    candidate pairs unique pre-window, exactly ONE Exchange in the
    plan (the top-k window's), and n_probes=1 parity untouched."""
    from pyspark.sql import functions as F

    from dsgrid_spark.pipeline.similarity import (
        lsh_probe_buckets, lsh_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
         for i in range(60)],
        "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")

    pb = lsh_probe_buckets(queries, dim=8, n_planes=6, n_probes=4)
    per = (pb.groupBy("query_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.count_distinct("bucket").alias("nd")).collect())
    assert all(r["n"] == r["nd"] == 4 for r in per), per

    out = lsh_topk(emb, queries, dim=8, k=5, n_planes=6, n_probes=4)
    # plan BEFORE execution: post-run AQE prints the materialized
    # shuffle stage's subtree AND the original node (same exchange)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    n_ex = len(re.findall(r"\bExchange\b", plan))
    assert n_ex == 1, f"expected only the window Exchange, got {n_ex}"
    rows = [(r["query_id"], r["vec_id"]) for r in out.collect()]
    assert len(rows) == len(set(rows)), "duplicate (query, id) in top-k"
