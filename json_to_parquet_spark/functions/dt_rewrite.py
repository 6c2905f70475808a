"""The ``_dt`` convention rewriter — the engine's one genuinely custom piece.

Reference semantics (SURVEY §1.3; reference pyarrow/main.py:172-279): every
STRING field whose name ends in ``_dt`` — at any nesting depth: top level,
inside structs, inside arrays of structs, recursively — is an ISO8601 string
and must become a UTC timestamp. Non-``_dt`` fields are untouched. The
pandas path of the reference (pandas/main.py:179-194) misses ``_dt`` fields
inside arrays-of-structs; we adopt the PyArrow path's full recursion.

Error handling: the reference diverges (PyArrow strict / pandas coerce-to-
null; SURVEY §1.3.3). Default is strict (raise on a non-null unparseable
string), with ``mode="coerce"`` for null-on-failure.

Spark-first design: this is NOT a row-level transformation. It is a pure
compile step ``StructType -> list[Column]`` executed once on the driver,
in two steps: one pure-type walk (``_plan``, no Column objects, no py4j
round trip) yields the rewritten paths and marks which subtrees hold a
``_dt`` site; then one build (``_rewrite_expr``) constructs each Column
exactly once, visiting only the marked subtrees. ``dt_rewrite_paths`` is
the walk alone. The emitted expression tree uses only JVM-side primitives —
``to_timestamp`` / ``try_to_timestamp``, ``Column.withField`` (preserves
struct nullness, unlike rebuilding with ``F.struct``), and the higher-order
``F.transform`` for arrays — so the whole rewrite stays inside whole-stage
codegen and Catalyst is free to prune/reorder around it. No UDFs, no
Python in the hot path, no driver-side data movement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DT_SUFFIX = "_dt"


def _is_dt_name(name: str) -> bool:
    return name.endswith(DT_SUFFIX)


def _cast_string_to_ts(col: Column, name: str, mode: str) -> Column:
    """string -> timestamp with strict/coerce error semantics.

    ``try_to_timestamp`` yields NULL on parse failure; strict mode turns a
    (non-null input, null output) pair into a raised error, matching the
    reference's PyArrow path which raises on non-ISO8601 input. The strict
    form is ``coalesce(parsed, assert_true(input is null, message))``: the
    parse appears once and the expression takes five Column objects, each
    a handful of py4j round trips to build.
    """
    parsed = F.try_to_timestamp(col)
    if mode == "coerce":
        return parsed
    message = "dt_rewrite: unparseable timestamp in field '%s': '%%s'" % name.replace("%", "%%")
    return F.coalesce(parsed, F.assert_true(col.isNull(), F.format_string(message, col)))


def _plan(dtype: T.DataType, name: str, path: str, paths: list[str]):
    """Pure-type walk: the rewrite plan for one node, or None when no
    ``_dt`` site sits at or below it. Appends each rewritten site's dotted
    path to ``paths`` in schema order.

    A plan is ``("ts", name)`` for a cast site, ``("struct", ((field,
    plan), ...))`` listing only the fields that change, ``("array",
    element_plan)`` or ``("map", value_plan)``. No Column is built here,
    so the walk costs no py4j round trip.
    """
    if isinstance(dtype, T.StringType) and _is_dt_name(name):
        paths.append(path)
        return ("ts", name)
    if isinstance(dtype, T.StructType):
        changed = []
        for field in dtype.fields:
            sub = _plan(field.dataType, field.name, f"{path}.{field.name}", paths)
            if sub is not None:
                changed.append((field.name, sub))
        return ("struct", tuple(changed)) if changed else None
    if isinstance(dtype, T.ArrayType):
        # Elements carry no field name of their own: the reference's list
        # path (pyarrow/main.py:258-279) recurses only into list<struct>
        # and passes list<string> through unchanged — so an array field
        # named '*_dt' must NOT have its string elements cast. Recursing
        # with an empty name reproduces exactly that: only named struct
        # fields inside the element can match the _dt rule.
        sub = _plan(dtype.elementType, "", f"{path}[]", paths)
        return None if sub is None else ("array", sub)
    if isinstance(dtype, T.MapType):
        # Map values may contain structs with _dt fields. Same rule as
        # arrays: the value slot is anonymous, so a map field named
        # '*_dt' does not cast plain string values.
        sub = _plan(dtype.valueType, "", f"{path}{{}}", paths)
        return None if sub is None else ("map", sub)
    return None


def _quote(name: str) -> str:
    """Backtick-quote a field name for ``F.col`` / ``withField``, which
    parse dots as nesting (a JSON key ``"k8s.pod"`` is one field)."""
    return "`" + name.replace("`", "``") + "`"


def _rewrite_expr(col: Column, plan, mode: str) -> Column:
    """Build the rewritten Column for ``col`` from its ``_plan``: one call
    per plan node, so the build is linear in the schema.

    Untouched columns never reach here, so Catalyst sees them as
    pass-through and column pruning/pushdown are unaffected.
    """
    kind, arg = plan
    if kind == "ts":
        return _cast_string_to_ts(col, arg, mode)
    if kind == "struct":
        result = col
        for name, sub in arg:
            # withField preserves the nullness of the struct itself
            # (null struct stays null) and all sibling fields.
            result = result.withField(
                _quote(name), _rewrite_expr(col.getField(name), sub, mode)
            )
        return result
    if kind == "array":
        return F.transform(col, lambda x: _rewrite_expr(x, arg, mode))
    return F.map_from_arrays(
        F.map_keys(col),
        F.transform(F.map_values(col), lambda v: _rewrite_expr(v, arg, mode)),
    )


def _check_mode(mode: str) -> None:
    if mode not in ("strict", "coerce"):
        raise ValueError(f"mode must be 'strict' or 'coerce', got {mode!r}")


def _compile(schema: T.StructType) -> tuple[list, list[str]]:
    """Per top-level field its plan (None: pass-through), plus the paths."""
    paths: list[str] = []
    plans = [_plan(f.dataType, f.name, f.name, paths) for f in schema.fields]
    return plans, paths


def _build(schema: T.StructType, plans: list, mode: str) -> list[Column]:
    return [
        F.col(_quote(f.name))
        if plan is None
        else _rewrite_expr(F.col(_quote(f.name)), plan, mode).alias(f.name)
        for f, plan in zip(schema.fields, plans)
    ]


def dt_rewrite_columns(
    schema: T.StructType, mode: str = "strict"
) -> tuple[list[Column], list[str]]:
    """Compile ``schema`` into the full top-level column list with every
    ``*_dt`` string site rewritten to timestamp.

    Returns (columns, rewritten_paths). Columns appear in original schema
    order; untouched columns are plain ``F.col`` references.
    """
    _check_mode(mode)
    plans, paths = _compile(schema)
    return _build(schema, plans, mode), paths


def dt_rewrite_paths(schema: T.StructType) -> list[str]:
    """Just the dotted paths that would be rewritten (for logging/lineage —
    the reference logs before/after schemas; SURVEY §2 U2). A pure-type
    walk: no Column is built."""
    return _compile(schema)[1]


def rewrite_dt_fields(df: DataFrame, mode: str = "strict") -> DataFrame:
    """Apply the ``_dt`` rewrite to a DataFrame (no-op if no ``_dt`` sites)."""
    _check_mode(mode)
    schema = df.schema
    plans, paths = _compile(schema)
    if not paths:
        return df
    return df.select(*_build(schema, plans, mode))
