"""Python guard/expr strings -> Catalyst Columns.

The reference evaluates ``guard`` with bare ``eval`` per row
(template_support.py:210-222) and ``expr('...')`` with ``x`` bound
(function.py:156-163).  Here an ``ast``-based translator compiles the common
comparison/arithmetic/boolean subset to JVM expressions (fast path, keeps
whole-stage codegen); anything it cannot express falls back to a vectorized
pandas UDF that evaluates the original source per Arrow batch.

Null-semantics bridging: Python ``None == 'foo'`` is False while SQL
``NULL = 'foo'`` is NULL, so every comparison is wrapped in
``coalesce(cmp, false)``; Python raising (TypeError on ``None > 2``,
NameError on a missing variable) skips the resource in the reference, which
the same false-coalescing reproduces.
"""

from __future__ import annotations

import ast
from typing import Any, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


class _Untranslatable(Exception):
    pass


class _GuardTranslator:
    """Translate a Python expression AST over row variables to a Column.

    ``positive`` tracks whether we are under an even number of negations in
    a filter context: there, SQL's null-drops-row already equals Python's
    False-from-None/raise semantics, so comparisons stay BARE and remain
    pushable into the parquet scan (EqualTo/GreaterThan row-group skipping).
    Under a NOT, nulls must be pinned to false explicitly (coalesce).
    """

    def __init__(self, cctx, positive: bool = True) -> None:
        self.cctx = cctx
        self.positive = positive

    def translate(self, node: ast.expr) -> Column:
        return self._expr(node)

    # -- the two boolean notions of the reference guard gate ---------------
    #
    # The reference skips a resource iff `eval(guard) is None or is False`
    # (IDENTITY checks, template_support.py:212-218): '' and 0 KEEP the
    # row.  Python `and`/`or` return operand VALUES, so the gate composes
    # from two notions:
    #   keep(x)     -- x is not None and x is not False
    #   pytruthy(x) -- python bool(x), which selects which operand a
    #                  BoolOp returns
    def keep(self, node: ast.expr) -> Column:
        if isinstance(node, ast.BoolOp):
            vals = node.values
            out = self.keep(vals[-1])
            if isinstance(node.op, ast.And):
                # a and b -> b if pytruthy(a) else a, so keep(a) there:
                # a falsy comparison is False (dropped), not a non-null value
                for v in reversed(vals[:-1]):
                    out = F.when(self._pytruthy(v), out).otherwise(
                        self.keep(v))
            else:
                # a or b -> a if pytruthy(a) else b; a truthy => keep
                for v in reversed(vals[:-1]):
                    out = self._pytruthy(v) | out
            return out
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.Not):
            return ~self._pytruthy(node.operand)
        if isinstance(node, ast.Compare):
            # comparison result is a real bool; SQL null (python raise)
            # drops the row in Filter, matching "error -> skip"
            return self._compare(node)
        if isinstance(node, ast.IfExp):
            return F.when(self._pytruthy(node.test),
                          self.keep(node.body)).otherwise(
                self.keep(node.orelse))
        return self._keep_value(node)

    def _keep_value(self, node: ast.expr) -> Column:
        """keep for a value-typed expression: not null, not boolean False
        ('' and 0 pass — identity semantics, not truthiness)."""
        col = self._expr(node)
        if self._dtype_of(node) == "boolean":
            return F.coalesce(col, F.lit(False))
        return col.isNotNull()

    def _pytruthy(self, node: ast.expr) -> Column:
        """python bool(value); nulls pin to false (bool(None) is False)."""
        if isinstance(node, ast.BoolOp):
            parts = [self._pytruthy(v) for v in node.values]
            out = parts[0]
            for p in parts[1:]:
                out = (out & p) if isinstance(node.op, ast.And) else (out | p)
            return out
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.Not):
            return ~self._pytruthy(node.operand)
        if isinstance(node, ast.Compare):
            return F.coalesce(self._compare(node), F.lit(False))
        col = self._expr(node)
        if self._dtype_of(node) == "string":
            return F.coalesce(F.length(col) > 0, F.lit(False))
        return F.coalesce(col.cast("boolean"), F.lit(False))

    def _dtype_of(self, node: ast.expr) -> str | None:
        if isinstance(node, ast.Name) and self.cctx.has_var(node.id):
            return (self.cctx.resolve(node.id).dtype or "").split("(")[0]
        if isinstance(node, ast.Constant):
            v = node.value
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, str):
                return "string"
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id == "str":
                return "string"
        return None

    def _expr(self, node: ast.expr) -> Column:
        if isinstance(node, ast.BoolOp):
            # value position (e.g. arithmetic over a BoolOp) — rare; treat
            # as the boolean combination of truthiness
            return self._pytruthy(node)
        if isinstance(node, ast.UnaryOp):
            if isinstance(node.op, ast.Not):
                return ~self._pytruthy(node.operand)
            if isinstance(node.op, ast.USub):
                return -self._expr(node.operand)
            raise _Untranslatable(ast.dump(node))
        if isinstance(node, ast.Compare):
            return self._compare(node)
        if isinstance(node, ast.Name):
            return self._name(node.id)
        if isinstance(node, ast.Constant):
            return F.lit(node.value)
        if isinstance(node, ast.IfExp):
            return F.when(self._pytruthy(node.test), self._expr(node.body)) \
                .otherwise(self._expr(node.orelse))
        if isinstance(node, ast.BinOp):
            left, right = self._expr(node.left), self._expr(node.right)
            if isinstance(node.op, ast.Add):
                return left + right
            if isinstance(node.op, ast.Sub):
                return left - right
            if isinstance(node.op, ast.Mult):
                return left * right
            if isinstance(node.op, ast.Div):
                return left / right
            if isinstance(node.op, ast.FloorDiv):
                return F.floor(left / right).cast("bigint")
            if isinstance(node.op, ast.Mod):
                return left % right
            raise _Untranslatable(ast.dump(node))
        if isinstance(node, ast.Call):
            return self._call(node)
        raise _Untranslatable(ast.dump(node))

    def _name(self, name: str) -> Column:
        if not self.cctx.has_var(name):
            # NameError at eval time -> guard False (resource skipped)
            raise _MissingName(name)
        return self.cctx.resolve(name).col

    def _call(self, node: ast.Call) -> Column:
        if not isinstance(node.func, ast.Name) or node.keywords:
            raise _Untranslatable(ast.dump(node))
        fname = node.func.id
        if fname == "locals" and not node.args:
            raise _Untranslatable("locals() outside membership test")
        if len(node.args) != 1:
            raise _Untranslatable(ast.dump(node))
        arg = self._expr(node.args[0])
        # try_cast matches Python: int(" 3 ") is 3, int("1.5") and
        # int("x") raise (NULL: the guard is false), int(2.7) truncates
        if fname == "int":
            return arg.try_cast("bigint")
        if fname == "float":
            return arg.try_cast("double")
        if fname == "str":
            return arg.cast("string")
        if fname == "len":
            return F.length(arg.cast("string"))
        raise _Untranslatable(ast.dump(node))

    def _compare(self, node: ast.Compare) -> Column:
        if len(node.ops) != 1:
            raise _Untranslatable("chained comparison")
        op, right = node.ops[0], node.comparators[0]
        # 'x' in locals() -> variable presence (non-null column / constant)
        if isinstance(op, (ast.In, ast.NotIn)) and isinstance(right, ast.Call) \
                and isinstance(right.func, ast.Name) and right.func.id == "locals":
            if not isinstance(node.left, ast.Constant):
                raise _Untranslatable("non-constant locals() membership")
            name = node.left.value
            if name in self.cctx.columns:
                present = self.cctx.resolve(name).col.isNotNull()
            elif self.cctx.has_var(name):
                present = F.lit(True)
            else:
                present = F.lit(False)
            return (~present) if isinstance(op, ast.NotIn) else present
        if isinstance(op, (ast.Is, ast.IsNot)) and isinstance(right, ast.Constant) \
                and right.value is None:
            left = self._expr(node.left)
            return left.isNull() if isinstance(op, ast.Is) else left.isNotNull()
        if isinstance(op, (ast.In, ast.NotIn)):
            if not isinstance(right, (ast.List, ast.Tuple, ast.Set)):
                raise _Untranslatable("membership over non-literal")
            values = [self._const_of(e) for e in right.elts]
            left = self._expr(node.left)
            raw = left.isin(values)
            if isinstance(op, ast.NotIn):
                # python: None not in [..] is True -> pin null to false first
                return ~F.coalesce(raw, F.lit(False))
            return self._pin(raw)
        left = self._expr(node.left)
        rcol = self._expr(right)
        if isinstance(op, ast.Eq):
            cmp = left == rcol
        elif isinstance(op, ast.NotEq):
            cmp = left != rcol
        elif isinstance(op, ast.Lt):
            cmp = left < rcol
        elif isinstance(op, ast.LtE):
            cmp = left <= rcol
        elif isinstance(op, ast.Gt):
            cmp = left > rcol
        elif isinstance(op, ast.GtE):
            cmp = left >= rcol
        else:
            raise _Untranslatable(ast.dump(node))
        return self._pin(cmp)

    def _pin(self, cmp: Column) -> Column:
        return cmp if self.positive else F.coalesce(cmp, F.lit(False))

    def _const_of(self, node: ast.expr) -> Any:
        if isinstance(node, ast.Constant):
            return node.value
        raise _Untranslatable("non-constant list element")


class _MissingName(Exception):
    def __init__(self, name: str) -> None:
        self.name = name


def compile_guard(source: str, cctx) -> Column:
    """Compile a guard expression to a boolean filter Column."""
    try:
        tree = ast.parse(source, mode="eval")
    except SyntaxError:
        return F.lit(False)
    try:
        # no top-level coalesce: Filter's null-drops-row IS the reference's
        # "guard false/raise -> skip", and bare predicates push down
        col = _GuardTranslator(cctx).keep(tree.body)
        return col.cast("boolean")
    except _MissingName:
        return F.lit(False)
    except _Untranslatable:
        cctx.warnings.append(f"guard fallback UDF for: {source!r}")
        return _guard_fallback_udf(source, cctx)


def _guard_fallback_udf(source: str, cctx) -> Column:
    """Batched-eval fallback: one pandas UDF over the referenced columns."""
    names = sorted(
        n for n in _referenced_names(source) if n in cctx.columns
    )
    consts = {
        n: v for n, v in cctx.constants.items() if not callable(v)
    } if not cctx.shielded else {}
    cols = [cctx.resolve(n).col for n in names]
    code = compile(source, "<guard>", "eval")

    @F.pandas_udf(BooleanType())
    def run(*series: pd.Series) -> pd.Series:
        out = []
        for vals in zip(*series) if series else [()] * 1:
            env = dict(consts)
            env.update({n: v for n, v in zip(names, vals) if v is not None})
            try:
                r = eval(code, {}, env)  # noqa: S307 - reference parity
                # reference gate: skip iff result IS None or IS False
                # (identity — '' and 0 keep, template_support.py:212-218)
                out.append(not (r is None or r is False))
            except Exception:
                out.append(False)
        return pd.Series(out)

    if not cols:  # no row deps: evaluate once on the driver
        env = dict(consts)
        try:
            r = eval(code, {}, env)  # noqa: S307
            return F.lit(not (r is None or r is False))
        except Exception:
            return F.lit(False)
    return run(*cols)


def _referenced_names(source: str) -> set[str]:
    try:
        tree = ast.parse(source, mode="eval")
    except SyntaxError:
        return set()
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Compare):
            for op, right in zip(node.ops, node.comparators):
                if isinstance(op, (ast.In, ast.NotIn)) and \
                        isinstance(right, ast.Call) and \
                        isinstance(right.func, ast.Name) and \
                        right.func.id == "locals" and \
                        isinstance(node.left, ast.Constant):
                    out.add(node.left.value)
    return out


def try_compile_value_expr(expression: str, ve) -> Optional[Any]:
    """Fast path for the ``expr('...')`` transformer: translate the
    arithmetic/conditional subset with ``x`` bound to the pipeline value.

    Returns a ValueExpr or None when untranslatable (caller falls back to the
    vectorized python-eval UDF)."""
    from rdf_mapper_spark.compiler.values import ValueExpr

    try:
        tree = ast.parse(expression, mode="eval")
    except SyntaxError:
        return None

    class _XCtx:
        def __init__(self, col, dtype):
            self._col, self._dtype = col, dtype
            self.columns = {"x": (col, dtype)}
            self.constants = {}
            self.shielded = True

        def has_var(self, name):
            return name == "x"

        def resolve(self, name):
            if name != "x":
                raise _MissingName(name)
            return ValueExpr(self._col, dtype=self._dtype)

    if ve.is_array:
        return None
    # Only take the fast path for numeric inputs: python semantics over
    # strings ('x'*5 is repetition) diverge from SQL arithmetic, so string
    # inputs go to the exact python-eval UDF fallback.
    col = ve.col
    dtype = ve.dtype
    if dtype not in ("bigint", "int", "double", "float"):
        return None
    try:
        out = _GuardTranslator(_XCtx(col, dtype)).translate(tree.body)
    except (_Untranslatable, _MissingName):
        return None
    has_truediv = any(isinstance(n, ast.Div) for n in ast.walk(tree))
    integral = dtype in ("bigint", "int") and not has_truediv
    out_dtype = "bigint" if integral else "double"
    return ValueExpr(out.cast(out_dtype), form="native", dtype=out_dtype)
