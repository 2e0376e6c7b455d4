"""Tile grid ordinates, join keys and Hilbert cell codes as native
Spark Column expressions.

Tile assignment has two steps. ``grid_xy`` is the one place SQL turns
a coordinate into a clamped grid ordinate (its numpy twin,
``grid_ordinate`` in ``kernels/subcells.py``, serves the point join).
Every internal equijoin keys on ``tile_key``, the row-major index
``gy * 2^level + gx`` of those ordinates: a hash join needs an
injective key, not a space-filling-curve order. The Hilbert code
(``with_hilbert_cell``) is applied only where a cell id leaves the
engine.

``with_hilbert_cell`` is the branch-free bitwise algorithm of
``geos_spark.kernels.hilbert.hilbert_encode`` (reference semantics:
``src/shape/fractal/HilbertCode.cpp:124-193``) as ~40 chained
projections, so the code stays JVM-side; a parity test checks every
level against the numpy kernel. Catalyst's optimizer rules walk that
chain on every query, so it costs planning time each time it is
used, which is why joins do not key on it.

uint32 semantics are emulated on LongType: every left-shift is masked
with 0xFFFFFFFF; right shifts on non-negative longs are exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geos_spark.kernels.subcells import grid_strides

_M32 = 0xFFFFFFFF


def _shl(c: Column, n: int) -> Column:
    return F.shiftleft(c, n).bitwiseAND(F.lit(_M32))


def _shr(c: Column, n: int) -> Column:
    return F.shiftright(c, n)


def _interleave_steps(col: str, prefix: str) -> list[tuple[str, object]]:
    """(x | x<<8)&0x00FF00FF ... as 4 chained temp columns."""
    c = F.col(col)
    steps = []
    masks = [
        (8, 0x00FF00FF),
        (4, 0x0F0F0F0F),
        (2, 0x33333333),
        (1, 0x55555555),
    ]
    cur = c
    for i, (sh, m) in enumerate(masks):
        name = f"{prefix}_{i}"
        steps.append(
            (name, (cur.bitwiseOR(_shl(cur, sh))).bitwiseAND(F.lit(m)))
        )
        cur = F.col(name)
    return steps


def with_hilbert_cell(
    df: DataFrame,
    x_col: str,
    y_col: str,
    level: int,
    out: str = "cell",
) -> DataFrame:
    """Add Hilbert cell id (long) computed from integer grid ordinates.

    x_col/y_col must already be grid ordinates in [0, 2^level).
    """
    if level > 16:
        raise ValueError("Level out of range")
    t = "__h_"
    cols: list[tuple[str, Column]] = []

    def ref(n: str) -> Column:
        return F.col(t + n)

    def add(n: str, c: Column) -> None:
        cols.append((t + n, c))

    sh = 16 - level
    add("x", _shl(F.col(x_col).cast("long"), sh) if sh else F.col(x_col).cast("long"))
    add("y", _shl(F.col(y_col).cast("long"), sh) if sh else F.col(y_col).cast("long"))
    x, y = ref("x"), ref("y")

    # round 1 — prime with x, y. NOTE: Spark column names are
    # case-insensitive, so lowercase/uppercase rounds get distinct
    # prefixes (ra1 vs qa1).
    add("ra1", x.bitwiseXOR(y))
    a = ref("ra1")
    add("rb1", a.bitwiseXOR(F.lit(0xFFFF)))
    add("rc1", (x.bitwiseOR(y)).bitwiseXOR(F.lit(0xFFFF)))
    add("rd1", x.bitwiseAND(y.bitwiseXOR(F.lit(0xFFFF))))
    b, c, d = ref("rb1"), ref("rc1"), ref("rd1")
    add("qa1", a.bitwiseOR(_shr(b, 1)))
    add("qb1", _shr(a, 1).bitwiseXOR(a))
    add("qc1", _shr(c, 1).bitwiseXOR(b.bitwiseAND(_shr(d, 1))).bitwiseXOR(c))
    add("qd1", a.bitwiseAND(_shr(c, 1)).bitwiseXOR(_shr(d, 1)).bitwiseXOR(d))

    prev = ("qa1", "qb1", "qc1", "qd1")
    for rnd, s in ((2, 2), (3, 4)):
        a, b, c, d = (ref(n) for n in prev)
        ab = a.bitwiseXOR(b)
        add(f"qa{rnd}", a.bitwiseAND(_shr(a, s)).bitwiseXOR(b.bitwiseAND(_shr(b, s))))
        add(f"qb{rnd}", a.bitwiseAND(_shr(b, s)).bitwiseXOR(b.bitwiseAND(_shr(ab, s))))
        add(f"qc{rnd}", c.bitwiseXOR(a.bitwiseAND(_shr(c, s)).bitwiseXOR(b.bitwiseAND(_shr(d, s)))))
        add(f"qd{rnd}", d.bitwiseXOR(b.bitwiseAND(_shr(c, s)).bitwiseXOR(ab.bitwiseAND(_shr(d, s)))))
        prev = (f"qa{rnd}", f"qb{rnd}", f"qc{rnd}", f"qd{rnd}")

    a, b, c, d = (ref(n) for n in prev)
    ab = a.bitwiseXOR(b)
    add("qc4", c.bitwiseXOR(a.bitwiseAND(_shr(c, 8)).bitwiseXOR(b.bitwiseAND(_shr(d, 8)))))
    add("qd4", d.bitwiseXOR(b.bitwiseAND(_shr(c, 8)).bitwiseXOR(ab.bitwiseAND(_shr(d, 8)))))
    c4, d4 = ref("qc4"), ref("qd4")
    add("fa", c4.bitwiseXOR(_shr(c4, 1)))
    add("fb", d4.bitwiseXOR(_shr(d4, 1)))
    add("i0", x.bitwiseXOR(y))
    i0 = ref("i0")
    add(
        "i1",
        ref("fb").bitwiseOR(
            F.lit(0xFFFF).bitwiseXOR(i0.bitwiseOR(ref("fa")))
        ),
    )

    # build all temps in one pass
    out_df = df.withColumns(dict(cols[:2]))
    # withColumns evaluates in parallel, so dependent temps need stages
    for name, expr in cols[2:]:
        out_df = out_df.withColumn(name, expr)

    for name, expr in _interleave_steps(t + "i0", t + "il0"):
        out_df = out_df.withColumn(name, expr)
    for name, expr in _interleave_steps(t + "i1", t + "il1"):
        out_df = out_df.withColumn(name, expr)

    cell = _shr(
        _shl(F.col(t + "il1_3"), 1).bitwiseOR(F.col(t + "il0_3")),
        32 - 2 * level,
    )
    out_df = out_df.withColumn(out, cell)
    drop = [n for n, _ in cols]
    drop += [t + f"il0_{i}" for i in range(4)]
    drop += [t + f"il1_{i}" for i in range(4)]
    return out_df.drop(*drop)


def sql_name(name: str) -> str:
    """A column name quoted for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def grid_xy(x, y, level: int, extent: tuple[float, float, float, float]):
    """Tile grid ordinates of (x, y): tiles partition the extent into
    2^level x 2^level squares, and ordinates are clamped to
    [0, 2^level - 1] so boundary/outside coordinates land in the edge
    tiles.

    ``x`` and ``y`` are SQL expressions (quote a bare column name with
    ``sql_name``), and so are the ordinates that come back. SQL text
    costs one parse per expression where a Column costs a py4j round
    trip per operator, which dominates the planning of a per-query
    key."""
    n = 1 << level
    sx, sy = grid_strides(level, extent)

    def ordinate(c: str, origin: float, stride: float) -> str:
        f = f"floor(({c} - {float(origin)!r}D) / {stride!r}D)"
        return f"greatest(0, least({n - 1}, {f}))"

    return ordinate(x, extent[0], sx), ordinate(y, extent[1], sy)


def tile_key(gx: Column, gy: Column, level: int) -> Column:
    """Row-major tile index ``gy * 2^level + gx``: the key of every
    internal tile equijoin (one multiply-add, no projection chain)."""
    if level > 16:
        raise ValueError("Level out of range")
    return gy * F.lit(1 << level) + gx


def with_grid_exploded(
    df: DataFrame,
    bbox_cols: tuple[str, str, str, str],
    level: int,
    extent: tuple[float, float, float, float],
    pad: float = 0.0,
) -> DataFrame:
    """Explode each row to every tile its (optionally padded) envelope
    overlaps, adding the tile's ordinates as ``__gx``/``__gy`` — fully
    native (sequence + explode), so it is safe on join build sides and
    broadcast plans (a python UDF there defeats codegen and costs
    seconds per stage)."""
    xmin, ymin, xmax, ymax = (sql_name(c) for c in bbox_cols)
    if pad:
        p = f"{float(pad)!r}D"
        xmin, ymin = f"({xmin} - {p})", f"({ymin} - {p})"
        xmax, ymax = f"({xmax} + {p})", f"({ymax} + {p})"
    gx0, gy0 = grid_xy(xmin, ymin, level, extent)
    gx1, gy1 = grid_xy(xmax, ymax, level, extent)
    return df.withColumn(
        "__gx", F.expr(f"explode(sequence({gx0}, {gx1}))")
    ).withColumn("__gy", F.expr(f"explode(sequence({gy0}, {gy1}))"))


def with_tile_keys_exploded(
    df: DataFrame,
    bbox_cols: tuple[str, str, str, str],
    level: int,
    extent: tuple[float, float, float, float],
    pad: float = 0.0,
) -> DataFrame:
    """``with_grid_exploded`` reduced to the ``__cell`` join key."""
    g = with_grid_exploded(df, bbox_cols, level, extent, pad)
    key = tile_key(F.col("__gx"), F.col("__gy"), level)
    return g.withColumn("__cell", key).drop("__gx", "__gy")


def with_tile_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    level: int,
    extent: tuple[float, float, float, float],
) -> DataFrame:
    """Point coordinates -> containing-tile ``__cell`` join key."""
    gx, gy = grid_xy(sql_name(x_col), sql_name(y_col), level, extent)
    return df.withColumn("__cell", tile_key(F.expr(gx), F.expr(gy), level))


def with_tile_cell(
    df: DataFrame,
    x_col: str,
    y_col: str,
    level: int,
    extent: tuple[float, float, float, float],
    out: str = "cell",
) -> DataFrame:
    """Point coordinates -> containing-tile Hilbert cell (native), on
    the ``grid_xy`` ordinates."""
    gx, gy = grid_xy(sql_name(x_col), sql_name(y_col), level, extent)
    tmp = df.withColumns({"__gx": F.expr(gx), "__gy": F.expr(gy)})
    return with_hilbert_cell(tmp, "__gx", "__gy", level, out).drop(
        "__gx", "__gy"
    )
