"""Pure-DataFrame Bloom filter for broadcast pre-filtering at ingest.

The 100 TB incremental-ingest problem: deciding which keys of a new batch
might already exist in a corpus normally shuffles the batch against the
corpus's full key set (an anti/semi join whose build side grows with the
corpus). A Bloom filter collapses the corpus side to a fixed-size bitset
— ~1.2 GB at 1e9 keys / 1% fp — that ships to every task once, so the
batch is pre-partitioned map-side into "definitely new" (bit test says
no: Bloom filters have NO false negatives) and "maybe duplicate" (the
only rows the exact join still has to touch, ~dup_rate + fp_rate of the
batch).

Spark's own `bloom_filter_agg`/`might_contain` exist only as internal
expressions for its runtime join filters (not resolvable from the public
SQL registry in 4.x), and `DataFrameStatFunctions.bloomFilter` is
Scala-only — so this builds the same structure from public primitives:

  build:  k probe positions per key via xxhash64(key, seed_i) pmod m,
          exploded, grouped by 64-bit word index, OR-folded with
          bit_or(shiftleft(1, bit)) — ONE shuffle of (key, k) tiny rows,
          then a driver collect BOUNDED by m/64 words (sparse: absent
          words are zero).
  test:   a codegen'd column expression over a LITERAL array<long>:
          element_at(words, pos >> 6) & (1 << (pos & 63)) != 0, ANDed
          across the k probes. Zero shuffle, zero UDF, no join — the
          literal rides the serialized plan to every task (the same
          constant-broadcast pattern as the PSL regexes and the q02
          blocklist array).

Semantics match the textbook filter: `might_contain` is True for every
inserted key (no false negatives — membership of every inserted key is
a tested invariant), and False positives occur at ~(1-e^(-kn/m))^k,
resolved by whatever exact check follows.

Sizing: optimal m = -n ln(fpp)/ln(2)^2 bits, k = (m/n) ln(2).

Size ceiling (documented boundary): the words array rides the plan as a
literal and the build/merge collect is m/64 longs, so the practical
range is expected_items <= ~1e7 at 1% fp (~12 MB filter — fine for a
serialized plan and the JSON registry index). Past that, shard the KEY
SPACE into B independent filters (pmod(xxhash64(key), B) picks the
shard) so each stays in range and batches probe only their shard's
filter; at 1e9+ keys prefer the exact semi join — Spark's AQE runtime
bloom pushdown already covers the join-local case.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class BloomFilter:
    """Sparse bitset + probe parameters. `words[i]` is the i-th 64-bit
    word of the bitset; `num_bits` is a multiple of 64."""

    num_bits: int
    num_hashes: int
    words: tuple  # tuple[int, ...] of length num_bits // 64

    @property
    def size_bytes(self) -> int:
        return len(self.words) * 8


def _probe_positions(key: Column, num_bits: int, num_hashes: int):
    """The k probe bit-positions for a key — identical expressions at
    build and test time. Seed i enters as an extra hashed column, the
    standard double-hashing-free construction (k independent xxhash64
    draws)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def _long_sql(v: int) -> str:
    """BIGINT literal as SQL text. Long.MIN_VALUE needs the two-term
    form: the parser reads -x as unary minus over x, and
    9223372036854775808L overflows BIGINT under ANSI."""
    if v == -(1 << 63):
        return "(-9223372036854775807L - 1L)"
    return f"{v}L"


def _probe_sql(key_sql: str, num_bits: int, num_hashes: int) -> list[str]:
    """SQL-text twin of :func:`_probe_positions` (value-identical:
    pure integer hashing)."""
    return [f"pmod(xxhash64({key_sql}, {i}), {num_bits})"
            for i in range(num_hashes)]


# past this many bitset words the fully-inlined SQL test expression
# (k copies of the words array as literal text) stops being cheap to
# parse; larger filters keep the Column-API path with a hoisted literal
_SQL_INLINE_WORD_CAP = 16384


def optimal_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(num_bits rounded up to a multiple of 64, num_hashes) minimizing
    bits for the target false-positive rate."""
    if expected_items <= 0:
        raise ValueError("expected_items must be positive")
    if not 0 < fpp < 1:
        raise ValueError("fpp must be in (0, 1)")
    m = -expected_items * math.log(fpp) / (math.log(2) ** 2)
    m = max(64, int(math.ceil(m / 64.0)) * 64)
    k = max(1, round(m / expected_items * math.log(2)))
    return m, k


def build_bloom(df: DataFrame, key_column: str,
                expected_items: int, fpp: float = 0.01) -> BloomFilter:
    """Aggregate a key column into a BloomFilter.

    One narrow shuffle of (word_index, mask) pairs — k tiny rows per key
    — and a driver collect bounded by num_bits/64 rows regardless of the
    corpus size (the sparse words, ~2 MB at 1M keys / 1% fp).
    """
    num_bits, num_hashes = optimal_params(expected_items, fpp)
    # probe + word/mask projection as parsed SQL (the dedup SQL-twin
    # pattern: the Column-API build measured ~1,100 py4j round trips
    # per bloom expression at ~1.7 ms each); integer-exact
    probes = ", ".join(_probe_sql(f"`{key_column}`", num_bits, num_hashes))
    words = (
        df.select(F.expr(f"explode(array({probes}))").alias("p"))
        .selectExpr(
            "CAST(`p` / 64 AS BIGINT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(`p`, 64) AS INT)) AS m")
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["w"]] = r["bits"]
    return BloomFilter(num_bits=num_bits, num_hashes=num_hashes,
                       words=tuple(dense))


def might_contain(bloom: BloomFilter, key: Column | str) -> Column:
    """Codegen'd membership test: True for every inserted key (no false
    negatives), True for ~fpp of absent keys.

    With ``key`` given as a column NAME and a filter small enough to
    inline, the whole test plans as ONE parsed SQL expression (the
    dedup SQL-twin pattern — the Column-API build measured ~1,100 py4j
    round trips, ~2 s, for a 38-word filter). A Column-expression key
    or an oversized filter keeps the Column-API path with the words
    literal hoisted through one ``F.expr`` (one round trip instead of
    one per element)."""
    if (isinstance(key, str)
            and len(bloom.words) <= _SQL_INLINE_WORD_CAP):
        words = "array(%s)" % ", ".join(_long_sql(w) for w in bloom.words)
        conds = []
        for p in _probe_sql(f"`{key}`", bloom.num_bits, bloom.num_hashes):
            w = (f"element_at({words}, "
                 f"CAST(CAST(({p}) / 64 AS BIGINT) + 1 AS INT))")
            bit = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"
            conds.append(f"(({w} & {bit}) != 0)")
        return F.expr("(%s)" % " AND ".join(conds))
    if isinstance(key, str):
        key = F.col(key)
    words = F.expr(
        "array(%s)" % ", ".join(_long_sql(w) for w in bloom.words))
    cond = None
    for p in _probe_positions(key, bloom.num_bits, bloom.num_hashes):
        w = F.element_at(words, ((p / 64).cast("long") + 1).cast("int"))
        bit = F.call_function("shiftleft", F.lit(1).cast("long"),
                              F.pmod(p, F.lit(64)).cast("int"))
        hit = w.bitwiseAND(bit) != 0
        cond = hit if cond is None else cond & hit
    return cond


def merge_into(bloom: BloomFilter, df: DataFrame,
               key_column: str) -> BloomFilter:
    """A new BloomFilter with ``df``'s keys OR-ed into ``bloom``.

    The incremental-maintenance primitive: folding a batch in costs one
    narrow aggregation over THE BATCH ONLY — the previously-inserted
    corpus is never rescanned (bitset union is bitwise OR). Registry
    ingest keeps one filter per corpus this way, so the per-batch id
    check never touches the accumulated id set.
    """
    probes = ", ".join(_probe_sql(f"`{key_column}`", bloom.num_bits,
                                  bloom.num_hashes))
    rows = (
        df.select(F.expr(f"explode(array({probes}))").alias("p"))
        .selectExpr(
            "CAST(`p` / 64 AS BIGINT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(`p`, 64) AS INT)) AS m")
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    dense = list(bloom.words)
    for r in rows:
        dense[r["w"]] |= r["bits"]
    return BloomFilter(num_bits=bloom.num_bits,
                       num_hashes=bloom.num_hashes, words=tuple(dense))


_MAGIC = b"DSBF1"


def to_bytes(bloom: BloomFilter) -> bytes:
    """Compact serialization (header + little-endian int64 words) for
    registry metadata storage."""
    import struct

    head = struct.pack("<5sqi", _MAGIC, bloom.num_bits, bloom.num_hashes)
    body = struct.pack(f"<{len(bloom.words)}q", *bloom.words)
    return head + body


def from_bytes(data: bytes) -> BloomFilter:
    import struct

    head = struct.calcsize("<5sqi")
    magic, num_bits, num_hashes = struct.unpack("<5sqi", data[:head])
    if magic != _MAGIC:
        raise ValueError("not a serialized BloomFilter")
    n = num_bits // 64
    words = struct.unpack(f"<{n}q", data[head:head + 8 * n])
    return BloomFilter(num_bits=num_bits, num_hashes=num_hashes,
                       words=tuple(words))


def bloom_prefilter(df: DataFrame, bloom: BloomFilter,
                    key_column: str) -> tuple[DataFrame, DataFrame]:
    """(maybe_present, definitely_new) map-side split of a batch.

    `definitely_new` rows cannot exist in the filtered corpus (no false
    negatives) and skip the exact join entirely; only `maybe_present`
    (true duplicates + ~fpp false positives) proceeds to verification.
    """
    hit = might_contain(bloom, key_column)
    return df.filter(hit), df.filter(~hit)


# ---------------------------------------------------------------------------
# Sharded Bloom filters (ROADMAP 8): past ~1e7 keys a single filter's
# literal words array outgrows the plan and the driver collect. Shard
# the KEY SPACE into B independent filters — pmod(xxhash64(key), B)
# picks the shard — so each shard stays in the single-filter comfort
# range, and ship the bitsets as broadcast DATA (one (shard, words) row
# per shard), never as plan literals: the same plan-size lesson as
# assign_nearest_centroid's broadcast centroid row. Membership is a broadcast
# hash join on the shard id plus the usual k probes against the joined
# words column — zero shuffle of the probed batch beyond the map-side
# broadcast, plan size O(1) in B and m.
# ---------------------------------------------------------------------------

# per-shard key budget: keeps each shard's bitset at the ~12 MB/1e7-key
# scale the single-filter path is comfortable with
_SHARD_KEY_BUDGET = 10_000_000


@dataclass(frozen=True)
class ShardedBloomFilter:
    """B independent bitsets held as a DataFrame of (shard int,
    words array<long>) — one row per shard, each array num_bits//64
    long. The words never touch the driver (build aggregates straight
    into the DataFrame; probing broadcasts it), so total filter size is
    bounded by executor/broadcast memory, not plan or driver limits."""

    num_shards: int
    num_bits: int  # per shard
    num_hashes: int
    words_df: DataFrame

    @property
    def size_bytes(self) -> int:
        return self.num_shards * (self.num_bits // 8)


def _shard_of(key: Column, num_shards: int) -> Column:
    # plain xxhash64(key) — independent of every probe draw, which
    # always hashes (key, seed_i) with an extra literal column
    return F.pmod(F.xxhash64(key), F.lit(num_shards)).cast("int")


def build_sharded_bloom(df: DataFrame, key_column: str,
                        expected_items: int, fpp: float = 0.01,
                        num_shards: int | None = None) -> ShardedBloomFilter:
    """Build B independent Bloom filters in ONE pass over the keys.

    ``num_shards`` defaults to ``ceil(expected_items / 1e7)`` so every
    shard sits inside the single-filter sizing range. Each shard is
    sized for its expected share of keys (xxhash64 sharding is uniform),
    giving the same total bit budget and fp rate as one giant filter.

    Shape at scale: keys explode to k (shard, word, mask) rows, union a
    zero-mask filler row per (shard, word) slot (``range``-generated,
    total_bits/64 rows — what makes every shard's slot set DENSE), and
    one map-side-combined ``bit_or`` groupBy collapses both; the second
    aggregation packs each shard's now-gapless words into the bitset
    array via ``array_sort(collect_list(...))`` — strictly linear. (The
    first cut densified by probing a words->bits MAP per slot; Spark's
    MapData lookup is a linear scan, so that is O(n_words^2) per shard
    — it froze the 1e8-key rehearsal and is exactly the plan-shape
    class this function exists to avoid.) The result DataFrame holds B
    rows and never visits the driver. At 1e8 keys / 1% fp that is
    ~120 MB of bitset across 10 shards, built in one shuffle whose
    distinct-key count is at most total_bits/64.
    """
    if num_shards is None:
        num_shards = max(1, math.ceil(expected_items / _SHARD_KEY_BUDGET))
    if num_shards < 1:
        raise ValueError("num_shards must be positive")
    per_shard = max(1, math.ceil(expected_items / num_shards))
    num_bits, num_hashes = optimal_params(per_shard, fpp)
    n_words = num_bits // 64
    key = F.col(key_column)
    # Bound each task's partial-agg hash map: the probe explode barely
    # combines (random positions are nearly all distinct within a
    # task), so a wide input split means a multi-GB useless map per
    # task — at 1e8 keys x 7 probes on 32 threads that is GC death,
    # measured, not hypothetical. Re-split the KEYS (cheap: one narrow
    # column) so each task explodes to ~4M probe rows.
    keys = df.select(key.alias("__k"))
    n_parts = math.ceil(expected_items * num_hashes / 4_000_000)
    if n_parts > keys.sparkSession.sparkContext.defaultParallelism:
        keys = keys.repartition(n_parts)
    key = F.col("__k")
    probes = ", ".join(_probe_sql("`__k`", num_bits, num_hashes))
    sparse = (
        keys.select(_shard_of(key, num_shards).alias("shard"),
                    F.expr(f"explode(array({probes}))").alias("p"))
        .selectExpr(
            "shard",
            "CAST(`p` / 64 AS BIGINT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(`p`, 64) AS INT)) AS m")
    )
    filler = df.sparkSession.range(num_shards * n_words).select(
        (F.col("id") / n_words).cast("int").alias("shard"),
        F.pmod(F.col("id"), F.lit(n_words)).alias("w"),
        F.lit(0).cast("long").alias("m"))
    words_df = (
        sparse.unionByName(filler)
        .groupBy("shard", "w")
        .agg(F.bit_or("m").alias("bits"))
        .groupBy("shard")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("w", "bits"))),
            lambda s: s["bits"]).alias("words"))
    )
    return ShardedBloomFilter(num_shards=num_shards, num_bits=num_bits,
                              num_hashes=num_hashes, words_df=words_df)


def sharded_bloom_prefilter(df: DataFrame, bloom: ShardedBloomFilter,
                            key_column: str) -> tuple[DataFrame, DataFrame]:
    """(maybe_present, definitely_new) split against a sharded filter —
    same contract as :func:`bloom_prefilter` (no false negatives; only
    ``maybe_present`` needs the exact join), via one broadcast hash join
    on the shard id. An absent shard row (no corpus key hashed there)
    means every probe misses: the left join's NULL words coalesce to a
    definite miss."""
    key = F.col(key_column)
    tagged = df.withColumn("__shard", _shard_of(key, bloom.num_shards))
    wdf = bloom.words_df.withColumnRenamed("shard", "__shard") \
        .withColumnRenamed("words", "__words")
    joined = tagged.join(F.broadcast(wdf), "__shard", "left")
    conds = []
    for p in _probe_sql(f"`{key_column}`", bloom.num_bits,
                        bloom.num_hashes):
        w = (f"element_at(`__words`, "
             f"CAST(CAST(({p}) / 64 AS BIGINT) + 1 AS INT))")
        bit = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"
        conds.append(f"(({w} & {bit}) != 0)")
    cond = F.expr("coalesce((%s), false)" % " AND ".join(conds))
    return (joined.filter(cond).drop("__shard", "__words"),
            joined.filter(~cond).drop("__shard", "__words"))


def write_sharded_bloom(bloom: ShardedBloomFilter, path: str) -> None:
    """Persist as parquet: the per-shard words plus the probe params
    inlined on every row (B rows — the duplication is noise)."""
    (bloom.words_df
     .withColumn("num_shards", F.lit(bloom.num_shards))
     .withColumn("num_bits", F.lit(bloom.num_bits))
     .withColumn("num_hashes", F.lit(bloom.num_hashes))
     .write.mode("overwrite").parquet(path))


def read_sharded_bloom(spark, path: str) -> ShardedBloomFilter:
    raw = spark.read.parquet(path)
    meta = raw.select("num_shards", "num_bits", "num_hashes").first()
    return ShardedBloomFilter(
        num_shards=meta["num_shards"], num_bits=meta["num_bits"],
        num_hashes=meta["num_hashes"],
        words_df=raw.select("shard", "words"))
