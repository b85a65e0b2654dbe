"""Dataset-expression evaluation: ``"ds1 | ds2"``, ``"(a - b) * c"``.

The reference embeds an 847-line generic expression parser
(dsgrid/utils/py_expression_eval/__init__.py, op surface at :352-420);
we instead use Python's own ``ast`` module on a whitelisted node set —
a fraction of the code, and no string evaluation.

Semantics (dsgrid/dataset/dataset_expression_handler.py:17-68):
- ``|`` (union): column-identical union — the default combine.
- ``+ - * / % **``: full-dimension equi-join of the two tables,
  arithmetic on the value columns.
- ``== != < <= > >=``: same join; the value columns become 1.0/0.0
  masks — composable as ``a * (a > b)`` for thresholded selection.
- ``and`` / ``or``: join; masks of "both/either value nonzero".
- ``a in b``: dimension semi-join — keep rows of ``a`` whose dimension
  key combination exists in ``b``.
- unary ``-``: negate the value columns.

Frames with no dimension column (a grand total) have one, empty, key:
their joins are cross joins.

Alignment audit: the reference ``DatasetExpressionHandler._op`` raises
when an arithmetic join changes the row count. An arithmetic *region*
is a maximal arithmetic, comparison or ``and``/``or`` subtree (a unary
minus belongs to the region it sits in). Its *operands* are the frames
of its other children: dataset leaves, ``|`` results and ``in``
results. Every join inside a region keeps the row count exactly when
all of its operands hold the same dimension keys, each once and none
NULL, so one check of the operands covers every node of the region.
Regions are independent: ``(a-b)|(c-d)`` stacks two key sets.
"""

from __future__ import annotations

import ast
import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from dsgrid_spark.common import VALUE_COLUMN


class DatasetExpressionError(ValueError):
    pass


_REGION_OPS = {
    ast.Add: "+", ast.Sub: "-", ast.Mult: "*", ast.Div: "/", ast.Mod: "%",
    ast.Pow: "**", ast.Eq: "==", ast.NotEq: "!=", ast.Lt: "<",
    ast.LtE: "<=", ast.Gt: ">", ast.GtE: ">=", ast.And: "and",
    ast.Or: "or",
}


def _region_op(node: ast.AST) -> tuple[str, list[ast.AST]] | None:
    """(operator, children) of an arithmetic-region node, else None."""
    if isinstance(node, ast.BinOp):
        op, children = node.op, [node.left, node.right]
    elif isinstance(node, ast.Compare):
        op, children = node.ops[0], [node.left, *node.comparators]
    elif isinstance(node, ast.BoolOp):
        op, children = node.op, node.values
    else:
        return None
    sym = _REGION_OPS.get(type(op))
    return (sym, children) if sym else None


def _null_key(dim_cols) -> Column:
    """True for a dimension key with a NULL in any column: the audit's
    group-by keeps such a key, but the inner equi-join never matches
    it, so it counts as missing. The empty key is never NULL."""
    if not dim_cols:
        return F.lit(False)
    return reduce(operator.or_, [F.col(c).isNull() for c in dim_cols])


def _dim_columns(left: DataFrame, right: DataFrame,
                 value_columns: list[str]) -> list[str]:
    """The dimension columns two operands share; raises, before any
    Spark action, when their column sets differ."""
    if set(left.columns) != set(right.columns):
        raise DatasetExpressionError(
            f"datasets have different columns: {left.columns} vs {right.columns}"
        )
    return [c for c in left.columns if c not in value_columns]


def _combine_arith(left: DataFrame, right: DataFrame, op: str,
                   value_columns: list[str]) -> DataFrame:
    dim_cols = _dim_columns(left, right, value_columns)
    renamed = right
    for v in value_columns:
        renamed = renamed.withColumnRenamed(v, f"__other_{v}")
    # ``on=None`` joins the empty key: a cross join
    joined = left.join(renamed, dim_cols or None, "inner")
    for v in value_columns:
        lc, rc = F.col(v), F.col(f"__other_{v}")
        expr = {
            "+": lc + rc, "-": lc - rc, "*": lc * rc, "/": lc / rc,
            "%": lc % rc, "**": F.pow(lc, rc),
            "==": (lc == rc).cast("double"), "!=": (lc != rc).cast("double"),
            "<": (lc < rc).cast("double"), "<=": (lc <= rc).cast("double"),
            ">": (lc > rc).cast("double"), ">=": (lc >= rc).cast("double"),
            "and": ((lc != 0) & (rc != 0)).cast("double"),
            "or": ((lc != 0) | (rc != 0)).cast("double"),
        }[op]
        joined = joined.withColumn(v, expr).drop(f"__other_{v}")
    return joined


def _combine_in(left: DataFrame, right: DataFrame,
                value_columns: list[str]) -> DataFrame:
    """``a in b``: keep rows of ``a`` whose dimension keys exist in ``b``."""
    dim_cols = _dim_columns(left, right, value_columns)
    return left.join(right.select(*dim_cols).distinct(), dim_cols or None,
                     "left_semi")


def _combine_union(left: DataFrame, right: DataFrame,
                   value_columns: list[str]) -> DataFrame:
    _dim_columns(left, right, value_columns)
    return left.unionByName(right)


def _audit(regions: list[list[tuple[str, DataFrame]]],
           value_columns: list[str]) -> None:
    """Raise unless the operands of each region hold the same dimension
    keys, each once and none NULL.

    Regions sharing a dimension-column signature (normally all of them)
    are checked by ONE Spark action: union the key columns of every
    operand tagged (region, operand index), count per (region, key,
    operand), and read per-region totals and any non-1:1 key off one
    per-region aggregate (one collected row per region). The scan is
    column-pruned to the dimension keys.
    """
    by_sig: dict[tuple[str, ...], list[int]] = {}
    for ri, operands in enumerate(regions):
        cols = operands[0][1].columns
        by_sig.setdefault(tuple(c for c in cols if c not in value_columns),
                          []).append(ri)

    for dim_cols, group in by_sig.items():
        kmax = max(len(regions[ri]) for ri in group)
        tagged = reduce(lambda a, b: a.unionByName(b), [
            frame.select(*dim_cols).withColumn("__comp", F.lit(ri))
            .withColumn("__src", F.lit(i))
            for ri in group for i, (_, frame) in enumerate(regions[ri])
        ])
        per_key = tagged.groupBy("__comp", *dim_cols).agg(*[
            F.sum((F.col("__src") == i).cast("int")).alias(f"__n{i}")
            for i in range(kmax)
        ])
        # operands past a region's own count contribute 0 rows
        # everywhere, so flag only duplicates and NULL keys here; keys
        # missing from a live operand are read from the zero counts
        bad = reduce(operator.or_,
                     [F.col(f"__n{i}") > 1 for i in range(kmax)],
                     _null_key(dim_cols))
        rows = per_key.groupBy("__comp").agg(
            *[F.sum(f"__n{i}").alias(f"__t{i}") for i in range(kmax)],
            *[F.sum((F.col(f"__n{i}") == 0).cast("int")).alias(f"__z{i}")
              for i in range(kmax)],
            F.sum(bad.cast("int")).alias("__dup"),
        ).collect()
        by_region = {r["__comp"]: r for r in rows}
        for ri in group:
            row = by_region.get(ri)
            if row is None:  # every operand is empty
                continue
            names = [label for label, _ in regions[ri]]
            totals = [row[f"__t{i}"] or 0 for i in range(len(names))]
            for i in range(1, len(names)):
                if totals[i] != totals[0]:
                    raise DatasetExpressionError(
                        f"dataset row counts differ for {names[0]!r} vs "
                        f"{names[i]!r}: {totals[0]} vs {totals[i]}"
                    )
            missing = sum(row[f"__z{i}"] or 0 for i in range(len(names)))
            if row["__dup"] or missing:
                raise DatasetExpressionError(
                    "expression join changed row count: "
                    f"{row['__dup'] + missing} dimension keys are missing, "
                    f"NULL or duplicated across datasets {names} "
                    "(misaligned or duplicated dimension keys)"
                )


def evaluate_expression(expression: str, datasets: dict[str, DataFrame],
                        value_columns: list[str] | None = None,
                        check_counts: bool = True) -> DataFrame:
    """Evaluate a dataset arithmetic expression over named DataFrames.

    Two steps. First the lazy frames are built with no Spark action;
    column mismatches and unsupported syntax raise here. Each arithmetic
    region records its operand frames (a frame used twice counts once)
    as it is built. Then one audit (:func:`_audit`) checks every region
    at once, normally in one action, and raises the reference's errors:
    "row counts differ" and "changed row count" for keys that are
    missing, NULL or duplicated. ``check_counts=False`` skips the audit
    (silent inner-join semantics, for scale) and runs no action at all.
    """
    value_columns = value_columns or [VALUE_COLUMN]
    try:
        tree = ast.parse(expression, mode="eval")
    except SyntaxError as e:
        raise DatasetExpressionError(f"invalid expression {expression!r}: {e}") from e

    regions: list[list[tuple[str, DataFrame]]] = []

    def ev(node: ast.AST, region: list | None) -> DataFrame:
        """Frame of ``node``; ``region`` collects the operands of the
        region ``node`` sits in, None outside every region."""
        if isinstance(node, ast.Compare) and len(node.ops) != 1:
            raise DatasetExpressionError(
                f"chained comparisons unsupported in {expression!r}"
            )
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            inner = ev(node.operand, region)
            return inner.withColumns({v: -F.col(v) for v in value_columns})
        arith = _region_op(node)
        if arith:
            if region is None:
                region = []
                regions.append(region)
            sym, children = arith
            return reduce(
                lambda left, right: _combine_arith(left, right, sym,
                                                   value_columns),
                [ev(c, region) for c in children])
        if isinstance(node, ast.Name):
            if node.id not in datasets:
                raise DatasetExpressionError(f"unknown dataset {node.id!r}")
            frame = datasets[node.id]
        elif isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitOr):
            frame = _combine_union(ev(node.left, None), ev(node.right, None),
                                   value_columns)
        elif isinstance(node, ast.Compare) and isinstance(node.ops[0], ast.In):
            frame = _combine_in(ev(node.left, None),
                                ev(node.comparators[0], None), value_columns)
        else:
            raise DatasetExpressionError(
                f"unsupported syntax in {expression!r}: {ast.dump(node)}"
            )
        if region is not None and all(f is not frame for _, f in region):
            region.append((ast.unparse(node), frame))
        return frame

    out = ev(tree.body, None)
    if check_counts:
        _audit(regions, value_columns)
    return out


def is_union(expression: str) -> bool:
    """True when ``expression`` only stacks dataset names with ``|``."""
    try:
        tree = ast.parse(expression, mode="eval")
    except SyntaxError:
        return False
    return all(isinstance(n, (ast.Name, ast.Load, ast.BinOp, ast.BitOr))
               for n in ast.walk(tree.body))


def default_expression(dataset_ids: list[str]) -> str:
    """Union of all datasets (reference dsgrid/query/models.py:391-399)."""
    return " | ".join(dataset_ids)
