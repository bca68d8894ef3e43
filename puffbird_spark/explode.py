"""Schema-driven explosion planner: the Spark-native core of ``to_long``.

The reference (``puffbird/frame.py:334-600``) discovers nesting *per cell at
runtime* with a type-dispatch table (``frame.py:35-47``) and peels one level
per ``_superstack_series`` call. Spark columns carry a static schema, so the
whole explosion chain is *planned from the DataType* before execution and
compiles to native Catalyst generators — no Python boundary at all:

=====================  ==============================  =====================
cell type (reference)  Spark column type               generator emitted
=====================  ==============================  =====================
list/tuple/ndarray/set ``ArrayType(T)``                ``posexplode(_outer)`` →
                                                       position level column
dict / pd.Series       ``MapType(K, V)``               ``explode(_outer)`` →
                                                       key level column
pd.DataFrame/recarray  ``StructType`` (in array)       field-name ``stack`` →
                                                       name level column
scalar                 primitive                       stop (no level column)
=====================  ==============================  =====================

Level columns are named ``{datacol}_level{n}`` (or a shared-axis name — see
``shared_axes`` in :func:`explode_column`), matching reference
``frame.py:1104-1110``. The stop condition of the reference
(``utils.py:9-20``: stop when the series holds hashable scalars) becomes
"stop when the type is primitive", and ``max_depth`` bounds the chain
identically (``frame.py:511-521``).

Everything here is pure plan construction: Catalyst sees only
``posexplode_outer`` / ``explode_outer`` / ``stack`` and keeps the chain
pipelined inside one whole-stage-codegen span (no shuffle is introduced by
explosion itself).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import PuffbirdSparkError
from .naming import level_column

#: default recursion bound, reference ``frame.py:341`` (max_depth=3)
DEFAULT_MAX_DEPTH = 3

StopCond = Callable[[T.DataType], bool]


def default_stop(dtype: T.DataType) -> bool:
    """True when a column of this type should not explode further.

    Spark-static analogue of ``series_is_hashable`` (reference
    ``utils.py:9-20``): primitives (and binary) are "hashable scalars".
    """
    return not isinstance(dtype, (T.ArrayType, T.MapType, T.StructType))


def type_depth(dtype: T.DataType, _acc: int = 0) -> int:
    """Nesting depth of a Spark type (number of explosion levels needed)."""
    if isinstance(dtype, T.ArrayType):
        return type_depth(dtype.elementType, _acc + 1)
    if isinstance(dtype, T.MapType):
        return type_depth(dtype.valueType, _acc + 1)
    if isinstance(dtype, T.StructType):
        inner = max((type_depth(f.dataType) for f in dtype.fields), default=0)
        return _acc + 1 + inner
    return _acc


def _struct_common_type(struct: T.StructType) -> T.DataType:
    """Common value type when stacking struct fields into rows.

    Homogeneous fields keep their type; all-numeric promotes to double;
    anything else canonicalizes to string (the reference, being pandas,
    silently produced ``object`` columns here — a string column is the
    schema-stable Spark equivalent).
    """
    dtypes = [f.dataType for f in struct.fields]
    if not dtypes:
        return T.NullType()
    first = dtypes[0]
    if all(dt == first for dt in dtypes):
        return first
    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.DecimalType)
    if all(isinstance(dt, numeric) for dt in dtypes):
        return T.DoubleType()
    return T.StringType()


def explode_column(
    df: DataFrame,
    key_cols: list[str],
    datacol: str,
    max_depth: int = DEFAULT_MAX_DEPTH,
    dropna: bool = True,
    shared_axes: dict[int, str] | None = None,
    stop: StopCond = default_stop,
) -> tuple[DataFrame, list[str]]:
    """Explode one data column to long format.

    Returns ``(long_df, level_cols)`` where ``long_df`` has columns
    ``key_cols + level_cols + [datacol]`` and each level column records the
    position (arrays), key (maps) or field name (structs) at that depth.

    ``dropna=True`` mirrors reference semantics (``frame.py:505-506``,
    ``frame.py:583``, ``frame.py:597``): null cells are dropped before
    explosion and null leaves after — i.e. inner generators; ``dropna=False``
    uses the ``_outer`` variants so rows with missing cells survive with NULL
    level/value.
    """
    if datacol in key_cols:
        raise PuffbirdSparkError(f"{datacol!r} is a key column, not a data column")
    if datacol not in df.columns:
        raise PuffbirdSparkError(f"no such column: {datacol!r}")

    out = df.select(*key_cols, datacol)
    levels: list[str] = []
    depth = 0
    while depth < max_depth:
        dtype = out.schema[datacol].dataType
        if stop(dtype):
            break
        lvl = level_column(datacol, depth, shared_axes)
        if lvl in out.columns:
            raise PuffbirdSparkError(
                f"generated level column {lvl!r} collides with an existing column"
            )
        carried = [c for c in out.columns if c != datacol]
        col = F.col(datacol)
        if isinstance(dtype, T.ArrayType):
            gen = F.posexplode(col) if dropna else F.posexplode_outer(col)
            out = out.select(*carried, gen.alias(lvl, datacol))
        elif isinstance(dtype, T.MapType):
            gen = F.explode(col) if dropna else F.explode_outer(col)
            out = out.select(*carried, gen.alias(lvl, datacol))
        elif isinstance(dtype, T.StructType):
            out = _stack_struct(out, carried, datacol, lvl, dtype)
            if dropna:
                out = out.filter(F.col(datacol).isNotNull())
        else:  # pragma: no cover — stop() handles primitives
            break
        levels.append(lvl)
        depth += 1
    if dropna:
        out = out.filter(F.col(datacol).isNotNull())
    return out, levels


def _stack_struct(
    df: DataFrame,
    carried: list[str],
    datacol: str,
    lvl: str,
    struct: T.StructType,
) -> DataFrame:
    """Pivot struct fields into (field_name, value) rows with ``stack``.

    This is the Spark analogue of the reference's one-iteration
    ``DataFrame.stack(level=all)`` on frame-valued cells
    (``frame.py:39-47``): the field name becomes the level column.
    """
    common = _struct_common_type(struct)
    args: list[Column] = []
    for f in struct.fields:
        args.append(F.lit(f.name))
        args.append(F.col(datacol).getField(f.name).cast(common))
    gen = F.stack(F.lit(len(struct.fields)), *args).alias(lvl, datacol)
    return df.select(*carried, gen)


def _array_pairs_or_null(c: Column) -> Column:
    """Array cell -> array<struct<p,v>> of (original position, value) with
    null leaves removed, or NULL when nothing remains. Positions are
    assigned BEFORE dropping nulls — matching pandas stack() and therefore
    the join path (a null leaf at index 1 leaves survivors at 0 and 2)."""
    pairs = F.filter(
        F.transform(c, lambda x, i: F.struct(i.alias("p"), x.alias("v"))),
        lambda s: s["v"].isNotNull(),
    )
    return F.when(F.size(pairs) > 0, pairs)


def _map_or_null(c: Column) -> Column:
    """Map cell with null values removed, NULL when nothing remains."""
    filtered = F.map_filter(c, lambda k, v: v.isNotNull())
    return F.when(F.size(F.map_keys(filtered)) > 0, filtered)


def _struct_as_map(c: Column, struct: T.StructType) -> Column:
    """Struct cell -> map(field_name -> value cast to the common type), so
    the fused path can use explode_outer uniformly (the generator-safe
    equivalent of the join path's stack())."""
    common = _struct_common_type(struct)
    pairs: list[Column] = []
    for f in struct.fields:
        pairs.append(F.lit(f.name))
        pairs.append(c.getField(f.name).cast(common))
    return F.when(c.isNotNull(), F.create_map(*pairs))


class FusionUnsupported(PuffbirdSparkError):
    """Raised when the fused planner cannot express a request (map-typed
    shared level, unreachable axis depth, interleaved axis deadlock) — the
    engine falls back to the join strategy under ``strategy='auto'``."""


def fused_axes_supported(
    df: DataFrame,
    cols: list[str],
    axes_by_col: dict[str, dict[int, str]],
    depth_map: dict[str, int],
    stop_map: dict[str, StopCond],
) -> bool:
    """The fused planner zips shared axes positionally. That equals the
    join-based assembly EXACTLY iff every level above each zip is itself a
    join key AND the zip multiplies a frame whose per-key multiplicity is
    exactly the first member's frame. Statically: all declared axes form
    ONE group over the SAME member columns, each axis sits at one depth
    common to all members, the depths are the contiguous prefix 0..K,
    levels 0..K are arrays (zip is positional; map-keyed shared levels
    need key-equality joins), and — the round-8 tightening — the members
    occupy the LEADING positions of the requested column order, so the
    group folds BEFORE anything else expands.

    The prefix condition is load-bearing, not cosmetic: the join
    assembly folds frames in column order, and a non-first member joins
    on (key, axes) against the ACCUMULATED frame. If another column has
    already expanded (``to_long('b', 's', 'd', ax={'b':0,'d':0})`` — a
    plain column BETWEEN the members), a position only the later member
    holds joins nothing and lands as ONE standalone row per key, while a
    positional zip would replicate it across the earlier expansion —
    different multiplicities (caught by differential test
    ``test_fused_interleaved_plain_column_falls_back``). The same
    argument rules out a second disjoint group under this machinery:
    its members fold after the first group expanded, so its
    member-only positions collapse to once-per-key standalone rows the
    zip cannot express."""
    member_set = frozenset(axes_by_col)
    # members must lead the fold order: the group zips against nothing
    if frozenset(cols[:len(member_set)]) != member_set:
        return False
    axis_depths: dict[str, set[int]] = {}
    for c, m in axes_by_col.items():
        for depth, axis in m.items():
            axis_depths.setdefault(axis, set()).add(depth)
    for axis, depths in axis_depths.items():
        if len(depths) != 1:
            return False  # per-member depths → inconsistent join keys
        members = frozenset(
            c for c, m in axes_by_col.items() if axis in m.values()
        )
        if members != member_set:
            return False  # partial groups pad across foreign rows
    top = len(axis_depths)
    for c, m in axes_by_col.items():
        if sorted(m) != list(range(top)):
            return False  # free level above a shared level
        dtype = df.schema[c].dataType
        for depth in range(top):
            if depth >= depth_map[c] or stop_map[c](dtype):
                return False  # declared axis depth unreachable
            if not isinstance(dtype, T.ArrayType):
                return False
            dtype = dtype.elementType
    return True


def explode_fused(
    df: DataFrame,
    key_cols: list[str],
    cols: list[str],
    depth_map: dict[str, int],
    dropna: bool,
    stop_map: dict[str, StopCond],
    axes_by_col: dict[str, dict[int, str]] | None = None,
) -> DataFrame:
    """Fused multi-column explosion: ONE frame, sequential outer
    generators, NO joins (SURVEY §4.2 fusion; §7 risk 2).

    Equivalent to the join-based assembly: sequential generators produce
    exactly the per-index cartesian product for independent columns, cells
    that contribute nothing become a single all-NULL combination member,
    and a final filter drops index rows where EVERY exploded column
    contributed nothing — the rows the outer join would never have created.
    Declared shared axes (``axes_by_col``: {col: {depth: axis_name}}) are
    zipped positionally (``arrays_zip`` + one generator) once every member
    column has exploded down to its declared depth — the positional
    full-outer join of the reference, without the join. Wall-cost:
    scan -> generate, one codegen pipeline, zero shuffles.
    """
    axes_by_col = axes_by_col or {}
    out = df.select(*key_cols, *cols)
    cur = {c: 0 for c in cols}

    def active(c: str) -> bool:
        if cur[c] >= depth_map[c]:
            return False
        return not stop_map[c](out.schema[c].dataType)

    def new_level(c: str, depth: int) -> str:
        lvl = level_column(c, depth, axes_by_col.get(c))
        if lvl in out.columns:
            raise PuffbirdSparkError(
                f"generated level column {lvl!r} collides with an existing column"
            )
        return lvl

    def explode_one(c: str) -> None:
        nonlocal out
        dtype = out.schema[c].dataType
        lvl = new_level(c, cur[c])
        carried = [x for x in out.columns if x != c]
        cell = F.col(c)
        if isinstance(dtype, T.StructType):
            cell = _struct_as_map(cell, dtype)
            dtype = T.MapType(T.StringType(), _struct_common_type(dtype))
        if isinstance(dtype, T.ArrayType):
            if dropna:
                gen = F.explode_outer(_array_pairs_or_null(cell))
                out = out.select(*carried, gen.alias("__pv")).select(
                    *carried,
                    F.col("__pv").getField("p").alias(lvl),
                    F.col("__pv").getField("v").alias(c),
                )
            else:
                out = out.select(*carried, F.posexplode_outer(cell).alias(lvl, c))
        else:
            if dropna:
                cell = _map_or_null(cell)
            out = out.select(*carried, F.explode_outer(cell).alias(lvl, c))
        cur[c] += 1

    def zip_axis(members: list[str], axis: str) -> None:
        """Positional zip of all members' current arrays: one generator
        emits (axis_pos, member values) — the positional full-outer join
        of the reference (frame.py:531) without the join.

        ``dropna=True``: the join path's per-side inner generators mean a
        position exists iff some member holds a value there; an all-empty
        zip keeps one axis-NULL row ONLY at depth 0 (deeper, the position
        itself would never have existed in any member frame).

        ``dropna=False``: each member cell that is null-or-empty AND "real"
        (an element that actually existed upstream, not padding this zip
        chain introduced) adds one standalone axis-NULL row — the
        ``posexplode_outer`` NULL row of that member's frame, which joins
        nothing (NULL keys never match). Realness is threaded through
        hidden ``__real_{c}`` columns between consecutive zips."""
        nonlocal out
        if axis in out.columns:
            raise PuffbirdSparkError(
                f"shared axis column {axis!r} collides with an existing column"
            )
        depth = cur[members[0]]
        real_cols = {c: f"__real_{c}" for c in members}
        drop = set(members) | set(real_cols.values())
        carried = [x for x in out.columns if x not in drop]

        if dropna:
            elem_t = {
                c: out.schema[c].dataType.elementType for c in members
            }
            zipped = F.arrays_zip(
                *[F.coalesce(F.col(c), F.array()).alias(c) for c in members]
            )
            gen = F.posexplode_outer(zipped)
            out = out.select(*carried, gen.alias(axis, "__z")).select(
                *carried, axis,
                *[F.col("__z").getField(c).alias(c) for c in members],
            )
            # a zip position survives iff ANY member's frame has a row
            # there — i.e. some member's sub-tree reaches a non-null
            # leaf within its depth/stop budget. A bare isNotNull is
            # NOT enough (round-8 fix): an `[]` or all-null-leaf
            # sub-cell is non-null here but produces zero frame rows
            # downstream, so the join has no row at this position.
            pred = F.lit(False)
            if depth == 0:
                # all-empty cells at depth 0: keep one NULL row — other
                # frames keep the index row alive through the outer join
                pred = F.col(axis).isNull()
            for c in members:
                pred = pred | _leaf_survives(
                    F.col(c), elem_t[c], depth + 1, depth_map[c],
                    stop_map[c])
            out = out.filter(pred)
        else:
            real = {
                c: (F.col(real_cols[c]) if real_cols[c] in out.columns
                    else F.lit(True))
                for c in members
            }
            lens = {
                c: F.size(F.coalesce(F.col(c), F.array())) for c in members
            }
            elem = {
                c: out.schema[c].dataType.elementType for c in members
            }
            entry_type = T.StructType(
                [T.StructField("__ax", T.IntegerType())]
                + [T.StructField(c, elem[c]) for c in members]
                + [T.StructField(real_cols[c], T.BooleanType())
                   for c in members]
            )
            zipped = F.arrays_zip(
                *[F.coalesce(F.col(c), F.array()).alias(c) for c in members]
            )
            entries = F.transform(
                zipped,
                lambda s, i: F.struct(
                    i.cast(T.IntegerType()).alias("__ax"),
                    *[s.getField(c).alias(c) for c in members],
                    *[(real[c] & (i < lens[c])).alias(real_cols[c])
                      for c in members],
                ),
            )
            for m in members:
                null_entry = F.struct(
                    F.lit(None).cast(T.IntegerType()).alias("__ax"),
                    *[F.lit(None).cast(elem[c]).alias(c) for c in members],
                    *[F.lit(c == m).alias(real_cols[c]) for c in members],
                )
                entries = F.concat(
                    entries,
                    F.when(real[m] & (lens[m] <= 0), F.array(null_entry))
                    .otherwise(F.array().cast(T.ArrayType(entry_type))),
                )
            out = out.select(*carried, F.explode_outer(entries).alias("__e"))
            out = out.select(
                *carried,
                F.col("__e").getField("__ax").alias(axis),
                *[F.col("__e").getField(c).alias(c) for c in members],
                *[F.col("__e").getField(real_cols[c]).alias(real_cols[c])
                  for c in members],
            )
        for c in members:
            cur[c] += 1

    pending = {c for c in cols}
    while True:
        progressed = False
        # 1. explode every column whose NEXT level is unshared
        for c in list(pending):
            while active(c) and cur[c] not in axes_by_col.get(c, {}):
                explode_one(c)
                progressed = True
            if not active(c) and cur[c] not in axes_by_col.get(c, {}):
                pending.discard(c)
        # 2. fire every shared axis whose members have all arrived
        waiting_axes: dict[str, list[str]] = {}
        for c in pending:
            axis = axes_by_col.get(c, {}).get(cur[c])
            if axis is not None:
                waiting_axes.setdefault(axis, []).append(c)
        declared_members = {
            axis: sorted(c for c, m in axes_by_col.items() if axis in m.values())
            for axis in waiting_axes
        }
        for axis, waiting in waiting_axes.items():
            if sorted(waiting) == declared_members[axis]:
                zip_axis(declared_members[axis], axis)
                progressed = True
        if not pending:
            break
        if not progressed:
            if waiting_axes:
                raise FusionUnsupported(
                    f"shared axes {sorted(waiting_axes)} cannot be scheduled "
                    f"(interleaved declarations) — use strategy='join'"
                )
            break

    leftover_real = [
        x for c in axes_by_col for x in (f"__real_{c}",) if x in out.columns
    ]
    if leftover_real:
        out = out.drop(*leftover_real)
    if dropna and cols:
        # a row survives iff ANY requested datacol contributed a value —
        # including non-exploded primitives (the join path keeps an index
        # row whenever at least one per-column frame has it)
        contributed = [F.col(c).isNotNull() for c in cols]
        pred = contributed[0]
        for p in contributed[1:]:
            pred = pred | p
        out = out.filter(pred)
    return out


def zip_explode(
    df: DataFrame,
    key_cols: list[str],
    cols: list[str],
    axis_name: str = "pos",
    dropna: bool = True,
) -> DataFrame:
    """Fused shared-axis explosion for parallel arrays: ONE
    ``posexplode(arrays_zip(...))`` instead of per-column explodes joined
    back on the axis (SURVEY §4.2's fusion optimization, exposed as an
    explicit operator for the common "these arrays are aligned" case).

    Equivalent to ``to_long(*cols, axis={c: 0 for c in cols})`` when every
    column is a same-length top-level array, but with zero joins and zero
    shuffles — the plan is scan → generate, pipelined in one codegen stage.
    Ragged lengths follow ``arrays_zip`` semantics (shorter arrays pad with
    NULL), which matches the full-outer positional join of the reference.
    """
    for c in cols:
        if not isinstance(df.schema[c].dataType, T.ArrayType):
            raise PuffbirdSparkError(
                f"zip_explode requires top-level array columns; {c!r} is "
                f"{df.schema[c].dataType.simpleString()}"
            )
    zipped = F.arrays_zip(*[F.col(c) for c in cols])
    gen = F.posexplode(zipped) if dropna else F.posexplode_outer(zipped)
    out = df.select(*key_cols, gen.alias(axis_name, "__z"))
    return out.select(
        *key_cols, axis_name,
        *[F.col("__z").getField(c).alias(c) for c in cols],
    )


def assemble_long(
    frames: list[tuple[str, DataFrame, list[str]]],
    key_cols: list[str],
) -> DataFrame:
    """Fold per-column long frames with full-outer joins.

    Each element is ``(datacol, long_frame, level_cols)``. Join keys are the
    new frame's key + level columns that already exist on the accumulated
    frame — the Spark rendering of the reference's
    ``on = list(names & set(df.columns))`` (``frame.py:531``) where ``names``
    are the index-level names of the per-column long series. Independent
    explosions therefore combine as a per-row cartesian product (their level
    columns are disjoint), while shared-axis level columns become join keys
    → positional alignment. A value column colliding with an existing non-key
    column gets the reference's ``_{datacol}`` suffix (``frame.py:533``).
    """
    out: DataFrame | None = None
    for datacol, frame, levels in frames:
        if out is None:
            out = frame
            continue
        keyish = set(key_cols) | set(levels)
        join_keys = [c for c in frame.columns if c in keyish and c in out.columns]
        for c in [c for c in frame.columns
                  if c not in join_keys and c in out.columns]:
            frame = frame.withColumnRenamed(c, f"{c}_{datacol}")
        if not join_keys:
            out = out.crossJoin(frame)
        else:
            out = out.join(frame, on=join_keys, how="full")
    if out is None:
        raise PuffbirdSparkError("no data columns to explode")
    return out


# ------------------------------------------------------------------ #
# Fold-exact fusion (round 8, VERDICT r7 #7 + the interleave parity
# bug): zero-shuffle to_long for ANY shared-axis declaration — multiple
# disjoint groups, plain columns interleaved between members, free
# sublevels below the chains — reproducing the join assembly's
# ORDER-DEPENDENT fold semantics exactly.
#
# Why the per-depth zip machinery above can't do this: the join path
# folds per-column frames in the requested column order, and a
# non-first member joins on (key, chain axes) against the ACCUMULATED
# frame. A chain tuple only a later member holds therefore lands as ONE
# standalone row per key, multiplied only by frames folded AFTER that
# member — an order-sensitive multiplicity a positional zip (which
# multiplies by everything) cannot express.
#
# The fold IS row-local (every join includes the unique key columns),
# so it can be compiled to generators:
#
# 1. per group, enumerate each member's would-be frame rows over the
#    chain depths as a row-local tuple array (outer/inner explosion
#    semantics, NULL-extended tuples for dropna=False);
# 2. split into LED entries (the first member's tuples, later members
#    attached via bounds-checked get-chains — at most one row per
#    NULL-free tuple, and NULL tuples never match, exactly like the
#    join) and STANDALONE entries (later members' tuples matched by no
#    earlier member, tagged with the creating member's column
#    position);
# 3. ONE splitter generator emits the main row plus each standalone
#    entry once; on a standalone row, columns folding BEFORE the
#    creator are NULL-masked (their outer generators then emit single
#    all-NULL rows — the join's unmatched-side NULLs) while columns
#    folding AFTER expand normally (the join multiplies them in);
# 4. each group then contributes ONE generator (led entries on main
#    rows / the payload on its own standalone rows / empty therefore
#    one all-NULL row on earlier-created standalone rows), and free
#    sublevels + plain columns explode as usual.
#
# Differential-tested against the join path on adversarial and
# randomized ragged fixtures in tests/test_fused.py.
# ------------------------------------------------------------------ #


def _ax(d: int) -> str:
    return f"__ax{d}"


def _chain_of(m: dict[int, str]) -> tuple[str, ...]:
    return tuple(m[d] for d in sorted(m))


def _sub_dtype(dtype: T.DataType, levels: int) -> T.DataType:
    for _ in range(levels):
        dtype = dtype.elementType
    return dtype


def fold_exact_supported(
    df: DataFrame,
    cols: list[str],
    axes_by_col: dict[str, dict[int, str]],
    depth_map: dict[str, int],
    stop_map: dict[str, StopCond],
) -> bool:
    """Static support check for the fold-exact path: the declared axes
    must partition the axis columns into groups whose members share an
    IDENTICAL contiguous 0..K array-typed chain (positional alignment;
    map-keyed shared levels still need the join), with no axis name
    bridging two chains (a partial overlap is not a group). Unlike
    :func:`fused_axes_supported` there is NO ordering restriction —
    order sensitivity is compiled in, not avoided."""
    chains: dict[tuple[str, ...], list[str]] = {}
    for c, m in axes_by_col.items():
        if sorted(m) != list(range(len(m))):
            return False  # free level above/between shared levels
        chains.setdefault(_chain_of(m), []).append(c)
    seen: dict[str, tuple[tuple[str, ...], int]] = {}
    for chain in chains:
        for depth, axis in enumerate(chain):
            if axis in seen and seen[axis] != (chain, depth):
                return False  # axis bridges two groups
            seen[axis] = (chain, depth)
    for chain, members in chains.items():
        for c in members:
            dtype = df.schema[c].dataType
            for depth in range(len(chain)):
                if depth >= depth_map[c] or stop_map[c](dtype):
                    return False  # declared axis depth unreachable
                if not isinstance(dtype, T.ArrayType):
                    return False
                dtype = dtype.elementType
    return True


def _leaf_survives(
    expr: Column, dtype: T.DataType, depth: int, max_depth: int,
    stop: StopCond,
) -> Column:
    """Would ``explode_column(dropna=True)`` keep at least one row from
    this sub-cell? (Inner generators drop null/empty containers; the
    final filter drops null leaves — so survival = some path to a
    non-null leaf within the depth/stop budget.)"""
    if depth >= max_depth or stop(dtype):
        return expr.isNotNull()
    if isinstance(dtype, T.ArrayType):
        return expr.isNotNull() & F.exists(
            expr,
            lambda x: _leaf_survives(
                x, dtype.elementType, depth + 1, max_depth, stop))
    if isinstance(dtype, T.MapType):
        return expr.isNotNull() & F.exists(
            F.map_values(expr),
            lambda x: _leaf_survives(
                x, dtype.valueType, depth + 1, max_depth, stop))
    if isinstance(dtype, T.StructType):
        common = _struct_common_type(dtype)
        pred = F.lit(False)
        for f in dtype.fields:
            pred = pred | _leaf_survives(
                expr.getField(f.name).cast(common), common, depth + 1,
                max_depth, stop)
        return expr.isNotNull() & pred
    return expr.isNotNull()


def _member_tuples(
    cell: Column, dtype: T.DataType, K: int, dropna: bool,
    leaf_pred,
) -> Column:
    """``array<struct<__ax0..__axK int, __v sub>>`` — the rows
    ``explode_column`` would emit for this member at chain depths 0..K,
    in frame-row form: dropna=True enumerates index paths through
    non-null arrays whose sub-cell survives the leaf filter; dropna=False
    follows ``posexplode_outer`` semantics (null/empty container at
    depth d -> ONE tuple with indices NULL from d on)."""

    def tail_type(d: int) -> T.StructType:
        return T.StructType(
            [T.StructField(_ax(dd), T.IntegerType())
             for dd in range(d, K + 1)]
            + [T.StructField("__v", _sub_dtype(dtype, K + 1))])

    def null_tail(d: int) -> Column:
        return F.array(F.struct(
            *[F.lit(None).cast("int").alias(_ax(dd))
              for dd in range(d, K + 1)],
            F.lit(None).cast(_sub_dtype(dtype, K + 1)).alias("__v")))

    def prefix(i: Column, t: Column, d: int) -> Column:
        return F.struct(
            i.cast("int").alias(_ax(d)),
            *[t.getField(_ax(dd)).alias(_ax(dd))
              for dd in range(d + 1, K + 1)],
            t.getField("__v").alias("__v"))

    def rec(e: Column, dt: T.DataType, d: int) -> Column:
        if d == K:
            ent = F.transform(e, lambda x, i: F.struct(
                i.cast("int").alias(_ax(d)), x.alias("__v")))
            if dropna:
                kept = F.filter(ent, lambda s: leaf_pred(s.getField("__v")))
                return F.coalesce(
                    kept, F.array().cast(T.ArrayType(tail_type(d))))
            return F.when(
                e.isNotNull() & (F.size(e) > 0), ent
            ).otherwise(null_tail(d))
        body = F.flatten(F.transform(
            e,
            lambda x, i: F.transform(
                rec(x, dt.elementType, d + 1),
                lambda t: prefix(i, t, d)),
        ))
        if dropna:
            return F.coalesce(
                body, F.array().cast(T.ArrayType(tail_type(d))))
        return F.when(
            e.isNotNull() & (F.size(e) > 0), body
        ).otherwise(null_tail(d))

    return rec(cell, dtype, 0)


def _pos_exists(
    col_expr: Column, t: Column, K: int, dropna: bool, leaf_pred,
) -> Column:
    """Does this member's frame contain a row at the NULL-free chain
    tuple ``t``? Bounds-checked walk; dropna=True additionally requires
    the sub-cell to survive the leaf filter."""
    pred = F.lit(True)
    cur = col_expr
    for d in range(K + 1):
        idx = t.getField(_ax(d))
        pred = pred & cur.isNotNull() & (idx < F.size(cur))
        cur = F.get(cur, idx)
    if dropna:
        pred = pred & leaf_pred(cur)
    return F.coalesce(pred, F.lit(False))


def _lookup(
    col_expr: Column, t: Column, K: int, dropna: bool, leaf_pred,
) -> Column:
    """The member's sub-cell at chain tuple ``t`` — NULL when absent
    (out of bounds, NULL index, or — dropna=True — a sub-tree the leaf
    filter would erase, so its free levels must read NULL like the
    join's unmatched side)."""
    cur = col_expr
    for d in range(K + 1):
        cur = F.get(cur, t.getField(_ax(d)))
    if dropna:
        cur = F.when(leaf_pred(cur), cur)
    return cur


def explode_fold_exact(
    df: DataFrame,
    key_cols: list[str],
    cols: list[str],
    depth_map: dict[str, int],
    dropna: bool,
    stop_map: dict[str, StopCond],
    axes_by_col: dict[str, dict[int, str]],
) -> DataFrame:
    """Generator-compiled join fold (see the section comment above):
    exact ``strategy='join'`` semantics for any supported shared-axis
    declaration, zero joins, zero shuffles."""
    pos = {c: i for i, c in enumerate(cols)}
    chains: dict[tuple[str, ...], list[str]] = {}
    for c in sorted(axes_by_col, key=pos.get):
        chains.setdefault(_chain_of(axes_by_col[c]), []).append(c)
    plain = [c for c in cols if c not in axes_by_col]

    groups = []
    for gi, (chain, members) in enumerate(chains.items()):
        K = len(chain) - 1
        leaf_preds = {}
        sub_types = {}
        for c in members:
            sub = _sub_dtype(df.schema[c].dataType, K + 1)
            sub_types[c] = sub

            def mk(sub=sub, c=c):
                return lambda e: _leaf_survives(
                    e, sub, K + 1, depth_map[c], stop_map[c])

            leaf_preds[c] = mk()
        entry_type = T.StructType(
            [T.StructField(_ax(d), T.IntegerType()) for d in range(K + 1)]
            + [T.StructField(c, sub_types[c]) for c in members]
            + [T.StructField("__src", T.IntegerType())])
        groups.append({
            "gi": gi, "chain": chain, "members": members, "K": K,
            "entry_type": entry_type, "leaf_preds": leaf_preds,
            "leader_pos": pos[members[0]],
        })

    # --- per-group led/stand arrays, computed on the original row ---
    proj = [F.col(c) for c in (*key_cols, *plain)]
    for g in groups:
        K, members, leaf_preds = g["K"], g["members"], g["leaf_preds"]
        tuples = {
            c: _member_tuples(
                F.col(c), df.schema[c].dataType, K, dropna, leaf_preds[c])
            for c in members
        }

        def entry(t, src, members=members, K=K, leaf_preds=leaf_preds):
            return F.struct(
                *[t.getField(_ax(d)).alias(_ax(d)) for d in range(K + 1)],
                *[_lookup(F.col(c), t, K, dropna, leaf_preds[c]).alias(c)
                  for c in members],
                F.lit(src).cast("int").alias("__src"))

        def nullfree(t, K=K):
            p = F.lit(True)
            for d in range(K + 1):
                p = p & t.getField(_ax(d)).isNotNull()
            return p

        led = F.transform(tuples[members[0]], lambda t: entry(t, -1))
        stand_parts = []
        for j, c in enumerate(members[1:], start=1):
            earlier = members[:j]

            def mk_unmatched(earlier=earlier, K=K, leaf_preds=leaf_preds):
                def unmatched(t):
                    m = F.lit(False)
                    for ec in earlier:
                        m = m | _pos_exists(
                            F.col(ec), t, K, dropna, leaf_preds[ec])
                    return ~(nullfree(t) & m)
                return unmatched

            def mk_entry(src=pos[c]):
                return lambda t: entry(t, src)

            stand_parts.append(F.transform(
                F.filter(tuples[c], mk_unmatched()), mk_entry()))
        stand = stand_parts[0] if stand_parts else F.array().cast(
            T.ArrayType(g["entry_type"]))
        for part in stand_parts[1:]:
            stand = F.concat(stand, part)
        proj.append(led.alias(f"__led_{g['gi']}"))
        proj.append(stand.alias(f"__stand_{g['gi']}"))

    # The main row stands for the fold's accumulated lineage. dropna=True
    # frames can be EMPTY, and when every frame before a group's
    # non-leader member is empty, the fold's accumulator is empty at
    # that member's join — its rows enter BARE (they are exactly the
    # standalone entries) and no NULL-extended lineage ever exists. So
    # the main row is emitted only if the FIRST contributing column
    # (first frame with >=1 row, checkable row-locally via
    # _leaf_survives on the original cells) is a plain column or a
    # group leader; those enter bare *through* the main lineage.
    # dropna=False frames always hold >=1 row, so the lineage always
    # exists.
    if dropna:
        leaders = {g["members"][0] for g in groups}
        main_ok: Column = F.lit(True)
        for c in reversed(cols):
            ok = (c not in axes_by_col) or (c in leaders)
            main_ok = F.when(
                _leaf_survives(
                    F.col(c), df.schema[c].dataType, 0, depth_map[c],
                    stop_map[c]),
                F.lit(ok),
            ).otherwise(main_ok)
    else:
        main_ok = F.lit(True)
    proj.append(main_ok.alias("__main_ok"))
    base = df.select(*proj)

    # --- splitter: one main row + each standalone entry once ---
    def null_entries(except_gi=None, payload=None):
        out = []
        for g in groups:
            if g["gi"] == except_gi:
                out.append(payload.alias(f"__e_{g['gi']}"))
            else:
                out.append(F.lit(None).cast(
                    g["entry_type"]).alias(f"__e_{g['gi']}"))
        return out

    split_type = T.StructType(
        [T.StructField("__creator", T.IntegerType())]
        + [T.StructField(f"__e_{g['gi']}", g["entry_type"])
           for g in groups])
    split_parts = [F.when(F.col("__main_ok"), F.array(F.struct(
        F.lit(-1).cast("int").alias("__creator"), *null_entries())))
        .otherwise(F.array().cast(T.ArrayType(split_type)))]
    for g in groups:
        def mk_split(gi=g["gi"]):
            return lambda e: F.struct(
                e.getField("__src").alias("__creator"),
                *null_entries(except_gi=gi, payload=e))

        split_parts.append(F.transform(
            F.col(f"__stand_{g['gi']}"), mk_split()))
    split_col = split_parts[0]
    for part in split_parts[1:]:
        split_col = F.concat(split_col, part)
    led_cols = [f"__led_{g['gi']}" for g in groups]
    work = base.select(
        *key_cols, *plain, *led_cols, F.explode(split_col).alias("__sp"))
    creator = F.col("__sp").getField("__creator")
    is_main = creator == -1
    work = work.select(
        *key_cols,
        # a standalone row is multiplied only by frames folded AFTER its
        # creating member: earlier plain columns read NULL (their outer
        # generators then emit single all-NULL rows, the join's
        # unmatched-side NULLs)
        *[F.when(is_main | (F.lit(pos[c]) > creator), F.col(c)).alias(c)
          for c in plain],
        *led_cols,
        creator.alias("__creator"),
        *[F.col("__sp").getField(f"__e_{g['gi']}").alias(f"__e_{g['gi']}")
          for g in groups],
    )

    # --- one generator per group ---
    for g in groups:
        gi, chain, members, K = g["gi"], g["chain"], g["members"], g["K"]
        for axis in chain:
            if axis in work.columns:
                raise PuffbirdSparkError(
                    f"shared axis column {axis!r} collides with an "
                    "existing column")
        inp = (
            F.when(F.col("__creator") == -1, F.col(f"__led_{gi}"))
            .when(F.col(f"__e_{gi}").isNotNull(),
                  F.array(F.col(f"__e_{gi}")))
            # a group whose leader folds after the creating member
            # expands fully on the standalone row (the join joins it in
            # on the bare key); an earlier group contributes one
            # all-NULL row (its axes can never match a NULL)
            .when(F.lit(g["leader_pos"]) > F.col("__creator"),
                  F.col(f"__led_{gi}"))
            .otherwise(F.array().cast(T.ArrayType(g["entry_type"])))
        )
        carried = [x for x in work.columns
                   if x not in (f"__led_{gi}", f"__e_{gi}")]
        work = work.select(*carried, F.explode_outer(inp).alias("__ge"))
        carried2 = [x for x in work.columns if x != "__ge"]
        work = work.select(
            *carried2,
            *[F.col("__ge").getField(_ax(d)).alias(chain[d])
              for d in range(K + 1)],
            *[F.col("__ge").getField(c).alias(c) for c in members],
        )
    work = work.drop("__creator")

    # --- free sublevels + plain columns, then the survival filter ---
    cur = {c: 0 for c in plain}
    for g in groups:
        for c in g["members"]:
            cur[c] = g["K"] + 1

    def active(c: str) -> bool:
        if cur[c] >= depth_map[c]:
            return False
        return not stop_map[c](work.schema[c].dataType)

    for c in cols:
        while active(c):
            dtype = work.schema[c].dataType
            lvl = level_column(c, cur[c], axes_by_col.get(c))
            if lvl in work.columns:
                raise PuffbirdSparkError(
                    f"generated level column {lvl!r} collides with an "
                    "existing column")
            carried = [x for x in work.columns if x != c]
            cell = F.col(c)
            if isinstance(dtype, T.StructType):
                cell = _struct_as_map(cell, dtype)
                dtype = T.MapType(
                    T.StringType(), _struct_common_type(dtype))
            if isinstance(dtype, T.ArrayType):
                if dropna:
                    gen = F.explode_outer(_array_pairs_or_null(cell))
                    work = work.select(
                        *carried, gen.alias("__pv")).select(
                        *carried,
                        F.col("__pv").getField("p").alias(lvl),
                        F.col("__pv").getField("v").alias(c),
                    )
                else:
                    work = work.select(
                        *carried, F.posexplode_outer(cell).alias(lvl, c))
            else:
                if dropna:
                    cell = _map_or_null(cell)
                work = work.select(
                    *carried, F.explode_outer(cell).alias(lvl, c))
            cur[c] += 1

    if dropna and cols:
        pred = F.col(cols[0]).isNotNull()
        for c in cols[1:]:
            pred = pred | F.col(c).isNotNull()
        work = work.filter(pred)
    return work
