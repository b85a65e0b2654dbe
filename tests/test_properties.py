"""Property-based invariants (hypothesis) for the core algebra.

The reference validates mapping fractions at registration time
(dimension_mapping_base.py:14-39) because violating them silently
double-counts; these properties pin the conservation laws the engine
relies on, over randomized inputs.

Each property runs few examples (Spark jobs are ~100 ms each) but with
shrinking, which is where hypothesis earns its keep.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dsgrid_spark.operators.mapping import apply_fraction, map_stacked_dimension
from dsgrid_spark.operators.reshape import pivot, unpivot
from dsgrid_spark.timedim.conversion import downsample, upsample

SETTINGS = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

values = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_subnormal=False, width=32),
    min_size=1, max_size=20,
)


@given(vals=values, n_to=st.integers(min_value=1, max_value=5))
@SETTINGS
def test_disaggregation_conserves_total(spark, vals, n_to):
    """1:N mapping with fractions summing to 1 per from_id conserves the
    grand total (ONE_TO_MANY_DISAGGREGATION)."""
    fact = spark.createDataFrame(
        [(f"g{i % 3}", float(v)) for i, v in enumerate(vals)],
        "geography string, value double",
    )
    frac = 1.0 / n_to
    records = spark.createDataFrame(
        [(f"g{g}", f"g{g}_{j}", frac) for g in range(3) for j in range(n_to)],
        "from_id string, to_id string, from_fraction double",
    )
    out = apply_fraction(map_stacked_dimension(fact, records, "geography"))
    got = out.agg(F.sum("value")).collect()[0][0] or 0.0
    assert math.isclose(got, sum(vals), rel_tol=1e-9, abs_tol=1e-6)


@given(vals=values)
@SETTINGS
def test_aggregation_mapping_conserves_total(spark, vals):
    """N:1 aggregation mapping (fraction 1.0) conserves the grand total."""
    fact = spark.createDataFrame(
        [(f"c{i % 5}", float(v)) for i, v in enumerate(vals)],
        "geography string, value double",
    )
    records = spark.createDataFrame(
        [(f"c{i}", "state", 1.0) for i in range(5)],
        "from_id string, to_id string, from_fraction double",
    )
    out = apply_fraction(map_stacked_dimension(fact, records, "geography"))
    got = out.agg(F.sum("value")).collect()[0][0] or 0.0
    assert math.isclose(got, sum(vals), rel_tol=1e-9, abs_tol=1e-6)


@given(vals=st.lists(
    st.floats(min_value=0.125, max_value=1e4, allow_nan=False, allow_subnormal=False, width=32),
    min_size=1, max_size=12))
@SETTINGS
def test_pivot_unpivot_roundtrip(spark, vals):
    rows = [(f"g{i}", "m0", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "geography string, metric string, value double")
    p = pivot(df, "metric", pivot_values=["m0"])
    back = unpivot(p, ["m0"], "metric", drop_nulls=True)
    got = sorted((r["geography"], r["metric"], r["value"]) for r in back.collect())
    assert got == sorted(rows)


@given(vals=values)
@SETTINGS
def test_downsample_total_conserves_sum(spark, vals):
    rows = [(f"2024-01-01 {i % 24:02d}:{(i * 7) % 60:02d}:00", float(v))
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    out = downsample(df, "ts", 6 * 3600)
    got = out.agg(F.sum("value")).collect()[0][0] or 0.0
    assert math.isclose(got, sum(vals), rel_tol=1e-9, abs_tol=1e-6)


@given(vals=values, steps=st.sampled_from([2, 4, 6]))
@SETTINGS
def test_upsample_total_conserves_sum(spark, vals, steps):
    rows = [(f"2024-01-{i % 28 + 1:02d} 00:00:00", float(v))
            for i, v in enumerate(vals)]
    df = (
        spark.createDataFrame(rows, "ts string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("ts").agg(F.sum("value").alias("value"))
    )
    base = df.agg(F.sum("value")).collect()[0][0] or 0.0
    out = upsample(df, "ts", 86400, 86400 // steps)
    got = out.agg(F.sum("value")).collect()[0][0] or 0.0
    assert math.isclose(got, base, rel_tol=1e-9, abs_tol=1e-6)


@pytest.mark.parametrize("seed", [0])
def test_exact_dedup_idempotent(spark, seed):
    from dsgrid_spark.pipeline.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["Hello world!", "hello  world", "HELLO WORLD", "other text",
             "Other Text.", "unique"])],
        "doc_id long, text string",
    )
    once = exact_dedup(docs)
    twice = exact_dedup(once)
    assert sorted(r["doc_id"] for r in once.collect()) == \
        sorted(r["doc_id"] for r in twice.collect())
    # survivors are the min-id of each normalized group
    assert sorted(r["doc_id"] for r in once.collect()) == [0, 3, 5]


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=300), min_size=1,
                   max_size=40),
    budget=st.integers(min_value=50, max_value=500),
)
@SETTINGS
def test_pack_sequences_invariants(spark, sizes, budget):
    """Packing invariants over random corpora: every row gets a batch,
    batch indices are contiguous from 0, every batch's total is within
    (budget, budget + max_doc) except the last, and the assignment is
    invariant under repartitioning (determinism at cluster scale)."""
    from dsgrid_spark.pipeline.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, "g", s) for i, s in enumerate(sizes)],
        "doc_id long, grp string, n_tokens int",
    )
    out = pack_sequences(df, ["grp"], "doc_id", "n_tokens", budget).collect()
    assert len(out) == len(sizes)
    by_batch: dict[int, int] = {}
    for r in out:
        by_batch[r["batch_index"]] = by_batch.get(r["batch_index"], 0) + r["n_tokens"]
    n_batches = len(by_batch)
    assert sorted(by_batch) == list(range(n_batches))
    max_doc = max(sizes)
    for b, tot in by_batch.items():
        if b < n_batches - 1:
            # a non-final batch only closes once it crossed the budget
            assert budget < tot + max_doc  # lower bound up to one doc short
        assert tot <= budget + max_doc
    # determinism across partition layouts
    out2 = pack_sequences(df.repartition(7), ["grp"], "doc_id", "n_tokens",
                          budget).collect()
    assert {(r["doc_id"], r["batch_index"]) for r in out2} == \
           {(r["doc_id"], r["batch_index"]) for r in out}


@given(
    events=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
                    min_size=1, max_size=15),
    rates=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
                   min_size=0, max_size=10),
)
@SETTINGS
def test_asof_join_directions_match_naive(spark, events, rates):
    """All three as-of directions must agree with a brute-force per-row
    reference, including ties (simultaneous rows), duplicate event
    times, keys with no matches, and nearest's exact-tie backward
    preference."""
    import datetime as dt

    from dsgrid_spark.operators.temporal_joins import asof_join

    T = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    ev_rows = [(f"u{u}", T(m), float(i)) for i, (u, m) in enumerate(events)]
    # unique (user, time) rate rows so the expected match is well-defined
    rate_rows = [(f"u{u}", T(m), float(u * 1000 + m))
                 for u, m in sorted(set(rates))]
    ev = spark.createDataFrame(ev_rows, "user string, ts timestamp, v double")
    rt = spark.createDataFrame(rate_rows or [("zz", T(0), 0.0)],
                               "user string, valid_from timestamp, rate double")
    if not rate_rows:
        rt = rt.filter("user <> 'zz'")

    def naive(direction):
        out = {}
        for u, t, v in ev_rows:
            cands = [(rt_t, r) for ru, rt_t, r in rate_rows if ru == u]
            back = [c for c in cands if c[0] <= t]
            fwd = [c for c in cands if c[0] >= t]
            pick = None
            if direction == "backward" and back:
                pick = max(back)[1]
            elif direction == "forward" and fwd:
                pick = min(fwd)[1]
            elif direction == "nearest" and (back or fwd):
                b = max(back) if back else None
                f = min(fwd) if fwd else None
                if b is None:
                    pick = f[1]
                elif f is None:
                    pick = b[1]
                else:  # exact-tie prefers backward
                    pick = f[1] if (f[0] - t) < (t - b[0]) else b[1]
            if pick is not None:
                out[(u, t, v)] = pick
        return out

    for direction in ("backward", "forward", "nearest"):
        got = {
            (r["user"], r["ts"], r["v"]): r["rate"]
            for r in asof_join(ev, rt, ["user"], "ts", "valid_from",
                               ["rate"], direction=direction).collect()
        }
        assert got == naive(direction), direction


@given(
    events=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
                    min_size=1, max_size=12),
    rates=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
                   min_size=1, max_size=8),
    tol=st.sampled_from([None, 1, 7, 25]),
)
@SETTINGS
def test_asof_join_matches_pandas_merge_asof(spark, events, rates, tol):
    """VERDICT r4 item 6: all three as-of directions + tolerance against
    pandas ``merge_asof`` — the convention authority the docstring cites —
    on random series. Pins the tie rules: an exactly-simultaneous right
    row matches (allow_exact_matches), and 'nearest' prefers BACKWARD on
    an exact distance tie."""
    import datetime as dt

    import pandas as pd

    from dsgrid_spark.operators.temporal_joins import asof_join

    T = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    ev_rows = [(f"u{u}", T(m), float(i)) for i, (u, m) in enumerate(events)]
    # unique (user, time) rate rows so the expected match is well-defined
    rate_rows = [(f"u{u}", T(m), float(u * 1000 + m))
                 for u, m in sorted(set(rates))]
    ev = spark.createDataFrame(ev_rows, "user string, ts timestamp, v double")
    rt = spark.createDataFrame(rate_rows,
                               "user string, valid_from timestamp, rate double")
    ev_pd = pd.DataFrame(ev_rows, columns=["user", "ts", "v"]).sort_values(
        "ts", kind="mergesort")
    rt_pd = pd.DataFrame(rate_rows, columns=["user", "valid_from", "rate"]
                         ).sort_values("valid_from", kind="mergesort")

    for direction in ("backward", "forward", "nearest"):
        exp_df = pd.merge_asof(
            ev_pd, rt_pd, left_on="ts", right_on="valid_from", by="user",
            direction=direction,
            tolerance=None if tol is None else pd.Timedelta(minutes=tol),
        )
        expected = {
            (r.user, r.ts.to_pydatetime(), r.v):
                None if pd.isna(r.rate) else r.rate
            for r in exp_df.itertuples()
        }
        got = {
            (r["user"], r["ts"], r["v"]): r["rate"]
            for r in asof_join(
                ev, rt, ["user"], "ts", "valid_from", ["rate"],
                how="left", direction=direction,
                tolerance_seconds=None if tol is None else tol * 60,
            ).collect()
        }
        assert got == expected, (direction, tol)


@given(
    rows=st.lists(st.tuples(st.integers(0, 300), st.integers(0, 1)),
                  min_size=1, max_size=30),
)
@SETTINGS
def test_filter_funnel_conservation(spark, rows):
    """Funnel conservation: every document lands in exactly one bucket
    (rule counts + kept == corpus size) and survivors == the kept
    count, for arbitrary rule outcomes."""
    from dsgrid_spark.pipeline.text import filter_funnel

    df = spark.createDataFrame(
        [(i, n, b) for i, (n, b) in enumerate(rows)],
        "doc_id long, n long, flag long",
    )
    survivors, stats = filter_funnel(df, [
        ("short", F.col("n") >= 100),
        ("flagged", F.col("flag") == 0),
    ])
    got = {r["rule"]: r["n_docs"] for r in stats.collect()}
    assert sum(got.values()) == len(rows)
    assert survivors.count() == got.get("kept", 0)


# paragraph-level dedup: randomized docs over a small paragraph alphabet
# so cross-document repetition is common
_para_alphabet = ["alpha beta", "gamma delta", "epsilon zeta", "eta theta",
                  "iota kappa", "lambda mu"]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_para_alphabet), min_size=1, max_size=4),
        min_size=1, max_size=6,
    )
)
@SETTINGS
def test_paragraph_dedup_invariants(spark, docs):
    """(a) each distinct paragraph survives exactly once corpus-wide, in
    the lexicographically first (doc, pos) slot; (b) a doc's kept
    paragraphs are a subsequence of its originals; (c) idempotence: a
    second pass over the rebuilt corpus drops nothing."""
    from dsgrid_spark.pipeline.dedup import dedup_paragraphs, paragraph_dedup

    rows = [(i, "\n\n".join(paras)) for i, paras in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = dedup_paragraphs(df).collect()

    # (a) global uniqueness + first-occurrence
    seen = {}
    for i, paras in enumerate(docs):
        for pos, p in enumerate(paras):
            seen.setdefault(p, (i, pos))
    expected = {(i, pos, p) for p, (i, pos) in seen.items()}
    assert {(r.doc_id, r.pos, r.paragraph) for r in kept} == expected

    # (b) subsequence: kept positions are increasing and valid
    by_doc = {}
    for r in kept:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.paragraph))
    for i, items in by_doc.items():
        items.sort()
        assert [p for _, p in items] == [docs[i][pos] for pos, _ in items]

    # (c) idempotence on the rebuilt corpus (drop emptied docs like C4)
    rebuilt = paragraph_dedup(df).filter(F.col("text") != "")
    again = paragraph_dedup(rebuilt)
    assert again.filter(
        F.col("n_paras_kept") != F.col("n_paras_total")).count() == 0


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=500),
                   min_size=1, max_size=30),
    chunk=st.sampled_from([7, 64, 500]),
)
@SETTINGS
def test_chunk_token_stream_invariants(spark, sizes, chunk):
    """Concat-and-chunk tiling laws over random inputs: spans partition
    the token stream exactly (sum == total, every chunk full except the
    last, spans within a doc contiguous and in order)."""
    from dsgrid_spark.pipeline.sampling import chunk_token_stream

    df = spark.createDataFrame(
        [(i, "g", int(s)) for i, s in enumerate(sizes)],
        "doc_id long, grp string, n long")
    out = chunk_token_stream(df, ["grp"], "doc_id", "n", chunk).collect()
    total = sum(s for s in sizes if s > 0)
    assert sum(r["tok_end"] - r["tok_start"] for r in out) == total
    per_chunk: dict[int, int] = {}
    for r in out:
        assert 0 <= r["tok_start"] < r["tok_end"] <= chunk
        per_chunk[r["chunk_index"]] = (
            per_chunk.get(r["chunk_index"], 0)
            + r["tok_end"] - r["tok_start"])
    if per_chunk:
        last = max(per_chunk)
        assert set(per_chunk) == set(range(last + 1))
        for c, tot in per_chunk.items():
            assert tot == chunk or c == last
    # each doc's spans tile its own size: count and boundary law
    per_doc: dict[int, int] = {}
    for r in out:
        per_doc[r["doc_id"]] = (
            per_doc.get(r["doc_id"], 0) + r["tok_end"] - r["tok_start"])
    for i, s in enumerate(sizes):
        assert per_doc.get(i, 0) == (s if s > 0 else 0)


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=1000),
                   min_size=1, max_size=40),
    n_shards=st.sampled_from([1, 3, 16]),
)
@SETTINGS
def test_global_running_total_invariants(spark, sizes, n_shards):
    """Prefix-sum laws over random inputs and shard counts: the set of
    running totals is a strictly consistent prefix of the grand total,
    independent of sharding."""
    from dsgrid_spark.pipeline.sampling import global_running_total

    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(sizes)], "doc_id long, n long")
    got = global_running_total(df, "doc_id", "n",
                               n_shards=n_shards, salt="p").collect()
    assert len(got) == len(sizes)
    by_total = sorted(r["running_total"] for r in got)
    assert by_total[-1] == sum(sizes)
    # running totals in global order differ by exactly the row's size
    rows = sorted(got, key=lambda r: (r["running_total"], r["doc_id"]))
    prev = 0
    seen_sizes = []
    for r in rows:
        seen_sizes.append(r["running_total"] - prev)
        prev = r["running_total"]
    assert sorted(seen_sizes) == sorted(int(s) for s in sizes)


@given(n_shards=st.sampled_from([1, 2, 13]))
@SETTINGS
def test_shuffle_corpus_is_permutation(spark, n_shards):
    """(shard, shard_pos) is a bijection onto dense per-shard prefixes
    for any shard count."""
    from dsgrid_spark.pipeline.sampling import shuffle_corpus

    df = spark.createDataFrame(
        [(i,) for i in range(97)], "doc_id long")
    out = shuffle_corpus(df, "doc_id", n_shards, salt="x").collect()
    assert len(out) == 97
    assert len({(r["shard"], r["shard_pos"]) for r in out}) == 97
    per_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r["shard"] < n_shards
        per_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for positions in per_shard.values():
        assert sorted(positions) == list(range(len(positions)))


_ARITH = {"+": lambda x, y: x + y, "-": lambda x, y: x - y,
          "*": lambda x, y: x * y}
_KEYS = ["x", "y", "z"]


def _render(tree) -> str:
    if isinstance(tree, str):
        return tree
    op, left, right = tree
    return f"({_render(left)} {op} {_render(right)})"


def _expr_model(tree, frames):
    """(rows, aligned) of ``tree`` in plain Python. Arithmetic
    inner-joins on the key, where a NULL key never matches; ``aligned``
    is False when the operands of some arithmetic region do not all
    hold the same keys, each once and none NULL."""
    aligned = True

    def ev(t, region):
        nonlocal aligned
        if isinstance(t, str):
            rows = frames[t]
        elif t[0] in _ARITH:
            operands = [] if region is None else region
            left, right = ev(t[1], operands), ev(t[2], operands)
            if region is None:
                keysets = [[k for k, _ in rows] for rows in operands]
                aligned &= all(
                    None not in ks and len(set(ks)) == len(ks)
                    and set(ks) == set(keysets[0]) for ks in keysets)
            return [(k, _ARITH[t[0]](x, y)) for k, x in left
                    for k2, y in right if k is not None and k == k2]
        else:
            left, right = ev(t[1], None), ev(t[2], None)
            if t[0] == "|":
                rows = left + right
            else:
                keep = {k for k, _ in right}
                rows = [(k, x) for k, x in left
                        if k is not None and k in keep]
        if region is not None:
            region.append(rows)
        return rows

    rows = ev(tree, None)
    return rows, aligned


@given(
    tree=st.recursive(
        st.sampled_from(["a", "b", "c"]),
        lambda kids: st.tuples(st.sampled_from(["+", "-", "*", "|", "in"]),
                               kids, kids),
        max_leaves=5),
    keys=st.fixed_dictionaries({n: st.one_of(
        st.just(_KEYS),
        st.lists(st.sampled_from([*_KEYS, None]), max_size=4),
    ) for n in "abc"}),
)
@SETTINGS
def test_expression_guard_matches_python_model(spark, tree, keys):
    """Every arithmetic join is covered by its region's audit: an
    expression raises exactly when some region's operands are not 1:1
    on their keys, and otherwise equals the plain-Python evaluation."""
    from collections import Counter

    from dsgrid_spark.operators.expressions import (
        DatasetExpressionError, evaluate_expression,
    )

    frames = {n: [(k, float(10 * j + i + 1)) for i, k in enumerate(keys[n])]
              for j, n in enumerate("abc")}
    ds = {n: spark.createDataFrame(rows, "k string, value double")
          for n, rows in frames.items()}
    want, aligned = _expr_model(tree, frames)
    try:
        got = evaluate_expression(_render(tree), ds).collect()
    except DatasetExpressionError:
        assert not aligned, _render(tree)
        return
    assert aligned, _render(tree)
    assert Counter((r["k"], r["value"]) for r in got) == Counter(want)


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_retired_fixpoint_algebra(data):
    """(r9) indexlog._retired over random replacement DAGs: a batch is
    retired iff some replacer chain from it terminates in a raw-logged
    id; pairs whose chain never reaches raw are inert; visible and
    retired partition cleanly; adding MORE raw ids never un-retires."""
    from dsgrid_spark.pipeline.indexlog import _retired

    ids = [f"b{i}" for i in range(data.draw(st.integers(2, 10)))]
    raw = set(data.draw(st.lists(st.sampled_from(ids), max_size=6)))
    pairs = data.draw(st.lists(
        st.tuples(st.sampled_from(ids), st.sampled_from(ids)),
        max_size=12))
    retired = _retired(raw, pairs)

    # reference: BFS over the replacement edges r -> by
    def reaches_raw(r, seen=()):
        for (rr, by) in pairs:
            if rr != r or by in seen:
                continue
            if by in raw or reaches_raw(by, (*seen, by)):
                return True
        return False

    expect = {r for r, _ in pairs if reaches_raw(r)}
    assert retired == expect
    # partition: nothing both visible and retired
    assert not (raw - retired) & retired
    # monotone in raw: committing more batches can only retire MORE
    bigger = _retired(raw | set(ids[:1]), pairs)
    assert retired <= bigger
    # idempotent under pair duplication
    assert _retired(raw, pairs + pairs) == retired


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_view_at_timestamp_algebra(data):
    """(r10) indexlog._view_at over random append/compact/purge event
    timelines: the reconstructed view at any T equals an event replay
    truncated at T, and exactly the purged batches whose retirement
    postdates T are reported unreconstructible (loud, never silently
    partial)."""
    from dsgrid_spark.pipeline.indexlog import _view_at

    t = 0
    log: dict[str, int] = {}        # current log rows
    commit: dict[str, int] = {}     # every commit ever
    compacted_at: dict[str, int] = {}  # batch -> its retirement instant
    pairs: list[tuple] = []
    purged: set[str] = set()
    visible: set[str] = set()
    counter = 0
    for _ in range(data.draw(st.integers(3, 15))):
        t += data.draw(st.integers(1, 10))
        kind = data.draw(st.sampled_from(["append", "compact", "purge"]))
        if kind == "append" or len(visible) < 2:
            b = f"b{counter}"
            counter += 1
            log[b] = commit[b] = t
            visible.add(b)
        elif kind == "compact":
            k = data.draw(st.integers(1, len(visible)))
            sources = set(
                data.draw(st.permutations(sorted(visible)))[:k])
            c = f"c{counter}"
            counter += 1
            for s in sources:
                pairs.append((s, c))
                compacted_at[s] = t
            log[c] = commit[c] = t
            visible = (visible - sources) | {c}
        else:  # purge every currently-retired batch
            for b in set(compacted_at) - purged:
                log.pop(b, None)
                purged.add(b)
    for _ in range(3):
        T = data.draw(st.integers(0, t + 5))
        view, lost = _view_at(dict(log), list(pairs), T)
        # SOUND: every purged batch whose retirement postdates T (it
        # truly was visible at T) is flagged — never silently partial.
        # Conservative over-flagging is allowed: a purged batch whose
        # retirement instant rode a replacer that was ITSELF purged
        # (its commit time erased with its log row) is honestly
        # unreconstructible even when the replay knows it was retired
        # by T — the log no longer holds that knowledge.
        assert {b for b in purged if compacted_at[b] > T} <= lost
        assert lost <= purged  # only purged batches are ever flagged
        if not lost:
            # EXACT whenever nothing is lost: the view equals the
            # event replay truncated at T
            expect = {b for b, ms in commit.items()
                      if ms <= T and b not in purged
                      and compacted_at.get(b, t + 10**9) > T}
            assert view == expect
        # the view never names a purged or rowless batch
        assert view <= set(log)
