"""Check compiler: schema pairs -> ONE Spark select -> violations DataFrame.

Architectural divergence from the reference (by design): the reference runs
each check eagerly, one full Series scan per check
(/root/reference/pandas_schema/column.py:27, validation.py:85) and
materializes warnings in a per-row Python loop (validation.py:101-108). We
compile every row-local check of every column into a single ``select`` — one
scan, whole-stage-codegen'd by Catalyst, with common subexpressions (e.g.
the string cast shared by several checks on one column) deduplicated by
codegen CSE — and emit violations via an array-of-structs ``explode``:
one output row per (failing cell x failed check).

Violations schema: (row long, column string, value string, message string,
check_id string, seq int). ``seq`` is the (column-position, check-position)
global ordinal so collected warnings can reproduce the reference's stable
``sorted(errors, key=row)`` ordering (schema.py:88).

Compile once, validate many frames: the row checks compile against column
NAMES (``F.col``, one per distinct column), not against one frame's
attributes, so the compiled projection resolves against any frame whose
checked columns have the same types. A Schema keeps it keyed by
(SparkContext, row column, checked column types, checks) and a repeat
``validate()`` only plans select + where + select over the new frame.
Checks whose user callable reads the live frame (``reads_frame``:
CrossColumnExprValidation, ConditionalValidation) are compiled into the
same projection on every call.
"""

from __future__ import annotations

import dataclasses
import threading
import typing

from pyspark.sql import DataFrame, functions as F, types as T

from ..frames import local_frame
from ..validation import _SeriesValidation, is_numeric_spark_type

VIOLATION_FIELDS = [
    ("row", T.LongType()),
    ("column", T.StringType()),
    ("value", T.StringType()),
    ("message", T.StringType()),
    ("check_id", T.StringType()),
    ("seq", T.IntegerType()),
]

VIOLATION_SCHEMA = T.StructType([T.StructField(n, t, True) for n, t in VIOLATION_FIELDS])

#: rendering of a null failing value — mirrors pandas CSV semantics where a
#: missing cell is NaN and str(nan) == 'nan' (reference validation.py:103)
NULL_VALUE_REPR = "nan"


@dataclasses.dataclass(frozen=True)
class RowCheck:
    """One row-local check paired with a df column. Hashable: equal checks
    share a compiled projection (the validation compares by identity)."""

    seq: int
    check_id: str
    df_col: str          # data-frame column the check reads
    warn_col: str        # name carried in the warning (schema vs df name differ when ordered=True)
    message: str
    validation: _SeriesValidation
    allow_empty: bool

    @property
    def columns(self) -> typing.List[str]:
        """Every column the check reads."""
        return [self.df_col] + list(getattr(self.validation, "input_columns", ()))


def empty_violations(spark) -> DataFrame:
    return local_frame(spark, [], VIOLATION_SCHEMA)


def _empty_exemption(col, spark_type: T.DataType):
    """allow_empty semantics (reference validation.py:86-95): numeric /
    boolean columns exempt nulls; other columns exempt nulls AND
    zero-length strings (pandas .str.len() is NaN for null -> also exempt).
    Returns the NOT-exempt predicate to AND with the fail mask."""
    if is_numeric_spark_type(spark_type):
        return col.isNotNull()
    return col.isNotNull() & (F.length(col.cast("string")) > 0)


def value_repr(col, spark_type: T.DataType):
    """String rendering of the failing cell, matching str(value) in the
    reference's warning loop for the common dtypes (ints '270', floats
    '270.0', strings verbatim, nulls 'nan'). Binary payloads (audio bytes)
    render as a length summary instead of megabytes of mojibake."""
    if isinstance(spark_type, T.BinaryType):
        return F.concat(
            F.lit("<binary "), F.coalesce(F.length(col).cast("string"), F.lit("0")), F.lit(" bytes>")
        )
    return F.coalesce(col.cast("string"), F.lit(NULL_VALUE_REPR))


def spark_context_key(spark) -> tuple:
    """Identity of ``spark``'s SparkContext. Compiled columns belong to it:
    a pandas UDF's JVM function holds that context's Python accumulator."""
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


_MEMO_LOCK = threading.RLock()


def scoped_memo(memo: dict, key: tuple, build: typing.Callable):
    """``memo[key]``, built on a miss. ``key[0]`` is a spark_context_key;
    a miss first drops the entries of any other (stopped) context. Locked:
    a streaming foreachBatch calls validate() from its own thread."""
    with _MEMO_LOCK:
        hit = memo.get(key)
        if hit is None:
            for k in [k for k in memo if k[0] != key[0]]:
                del memo[k]
            hit = memo[key] = build()
        return hit


class _NameBound:
    """Stands in for the frame while compiling: ``frame[name]`` is a
    name-bound ``F.col``, one per distinct name within one compile."""

    def __init__(self):
        self._refs = {}

    def __getitem__(self, name: str):
        ref = self._refs.get(name)
        if ref is None:
            ref = self._refs[name] = F.col(name)
        return ref


def _fail_predicate(frame, col, spark_type, ck: RowCheck):
    """The compiled FAIL predicate for one row check on ``col`` (shared by
    the violations explode and the bitmap projection). ``frame`` is the
    live frame for a check that ``reads_frame``, else a _NameBound."""
    if getattr(ck.validation, "is_multi_column", False):
        pass_pred = ck.validation.compile_row_predicate(frame)
    else:
        pass_pred = ck.validation.compile_predicate(col, spark_type)
    fail = ~pass_pred
    if ck.allow_empty:
        fail = fail & _empty_exemption(col, spark_type)
    return fail


class _Projection:
    """One name-bound compile of ``checks``: ``term`` per check, joined by
    ``assemble`` into (select columns, filter predicate). The terms of
    checks that read the live frame are compiled, and the projection
    assembled, on every ``columns(df)`` call."""

    def __init__(self, checks, dtypes, row_col, term, assemble):
        self.checks, self.dtypes, self.term, self.assemble = checks, dtypes, term, assemble
        names = _NameBound()
        self.row = names[row_col].cast("long")
        self.terms = [None if ck.validation.reads_frame else self._term(i, ck, names)
                      for i, ck in enumerate(checks)]
        self.assembled = (None if any(t is None for t in self.terms)
                          else assemble(self.terms, self.row))

    def _term(self, i, ck, frame):
        col, spark_type = frame[ck.df_col], self.dtypes[ck.df_col]
        fail = _fail_predicate(frame, col, spark_type, ck)
        return self.term(i, ck, fail, col, spark_type, self.row)

    def columns(self, df):
        if self.assembled is not None:
            return self.assembled
        terms = [self._term(i, ck, df) if t is None else t
                 for i, (ck, t) in enumerate(zip(self.checks, self.terms))]
        return self.assemble(terms, self.row)


def _projection(memo, df, checks, row_col, dtypes, term, assemble):
    """(select columns, filter) of ``checks`` over ``df``, compiled once per
    (SparkContext, kind, row column, checked column types, checks) in
    ``memo``; ``dtypes`` maps df column names to Spark types."""
    names = dict.fromkeys(n for ck in checks for n in ck.columns)
    key = (spark_context_key(df.sparkSession), term.__name__, row_col,
           tuple((n, dtypes.get(n)) for n in names), tuple(checks))
    proj = scoped_memo(memo, key, lambda: _Projection(checks, dtypes, row_col, term, assemble))
    return proj.columns(df)


def _violation_struct(i, ck: RowCheck, fail, col, spark_type, row):
    return F.when(
        fail,
        F.struct(
            row.alias("row"),
            F.lit(ck.warn_col).alias("column"),
            value_repr(col, spark_type).alias("value"),
            F.lit(ck.message).alias("message"),
            F.lit(ck.check_id).alias("check_id"),
            F.lit(ck.seq).cast("int").alias("seq"),
        ),
    )


def _explode_violations(structs, row):
    # Explode ALL k struct slots (nulls included) and filter afterwards:
    # the tempting F.filter(array, isNotNull) higher-order function is
    # CodegenFallback and forces the WHOLE projection - every check
    # expression - into interpreted mode (measured 4x slower than
    # Generate + null filter, which stays on the codegen path).
    return [F.explode(F.array(*structs)).alias("v")], F.col("v").isNotNull()


def build_row_violations(df: DataFrame, checks: typing.List[RowCheck], row_col: str,
                         dtypes: dict, memo: dict) -> DataFrame:
    """Compile all row-local checks into one select + explode.

    The produced plan is a narrow map: scan -> project(array of
    conditional structs) -> filter(non-empty) -> explode. No shuffle.
    """
    if not checks:
        return empty_violations(df.sparkSession)
    cols, keep = _projection(memo, df, checks, row_col, dtypes,
                             _violation_struct, _explode_violations)
    return (
        df.select(*cols).where(keep)
        .select("v.row", "v.column", "v.value", "v.message", "v.check_id", "v.seq")
    )


def _bitmap_bit(i, ck, fail, col, spark_type, row):
    return F.when(fail, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))


def _sum_bitmap(bits, row):
    bitmap = bits[0]
    for bit in bits[1:]:
        bitmap = bitmap + bit
    cols = [row.alias("row"), bitmap.alias("bitmap"), F.bit_count(bitmap).cast("int").alias("n_fail")]
    return cols, F.col("bitmap") != 0


def build_violation_bitmap(
    df: DataFrame,
    checks: typing.List[RowCheck],
    row_col: str,
    dtypes: dict,
    memo: dict,
    keep_clean: bool = False,
) -> DataFrame:
    """Compile all row-local checks into ONE per-row reason-code bitmap.

    Output: (row long, bitmap long, n_fail int) where bit i of ``bitmap``
    is set iff ``checks[i]`` fails on that row (bit order = schema check
    order, the same ordinal ``build_row_violations`` emits as ``seq``).
    ``n_fail`` is the population count. Rows that pass every check are
    dropped unless ``keep_clean=True`` (the unfiltered form feeds the
    failure-combination histogram: groupBy(bitmap).count()).

    Scale shape: a single narrow projection — scan -> project(int64) ->
    optional filter — zero shuffle, fully whole-stage-codegen'd. Each bit
    is a disjoint power-of-two literal so a plain SUM is a bitwise OR;
    no higher-order array functions (CodegenFallback) are used. This is
    the triage fast path for 10^12-row runs: 12 bytes/row out instead of
    one exploded struct per failing cell, and co-failure patterns fall
    out of one map-side-combined histogram.
    """
    if not checks:
        raise ValueError("violation bitmap needs at least one row-local check")
    if len(checks) > 63:
        raise ValueError(
            "violation bitmap supports at most 63 row-local checks (got {}); "
            "split the schema or use build_row_violations".format(len(checks))
        )
    cols, dirty = _projection(memo, df, checks, row_col, dtypes, _bitmap_bit, _sum_bitmap)
    out = df.select(*cols)
    return out if keep_clean else out.where(dirty)
