"""Pure-Python mirrors of Spark's aggregates, bit for bit.

A point read serves one grid cell, T rows at any grid size, so its
aggregates cost microseconds in Python. They are only worth serving if
they equal what Spark's own aggregate returns for the same rows down to
the last bit. Each function replays the Spark 4.1 update, merge and
evaluate expressions in Spark's order over IEEE doubles, for rows that
arrive in one task in the order given (a cell of a ``timeseries`` store
lives in one file, sorted by time):

- ``avg``: a sequential sum in row order (nulls add nothing), then
  ``sum / n``; null when no value is non-null.
- ``var_pop`` / ``stddev_pop``: the Welford update of
  ``CentralMomentAgg`` (``d = x - avg; avg += d/n; m2 += d*(d - d/n)``),
  the task's partial merged into the empty final buffer, then
  ``m2/n`` and ``sqrt(m2/n)``.
- ``percentile``: Spark's exact percentile: the distinct values sorted
  NaN last with ``-0.0 == 0.0`` (the tie broken by Spark's hash-map
  slot order, see ``_neg_zero_first``), ``pos = (n-1)p``, and
  ``(hi-pos)*a + (pos-lo)*b`` unless ``a == b`` numerically.
- ``regr_slope``: ``ck / m2x``, the co-moment of ``CovPopulation(x, y)``
  over the M2 of ``VariancePop(x)``, both updated only on rows where x
  and y are non-null; null when ``m2x`` is 0.
- ``trend_std_err`` / ``t_crit``: the column expressions of
  ``operators.trends.trend_with_confidence``.

Python floats are IEEE doubles with no fused multiply-add, like the JVM's,
so the same operations in the same order give the same bits.
``tests/test_spark_mirror.py`` pins each function against Spark itself
on arrays with NaN, signed zeros, nulls and sizes 0, 1 and 2.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterable, Sequence


def avg(values: Iterable[float | None]) -> float | None:
    """``avg``: Spark adds ``coalesce(x, 0.0)`` to a 0.0 sum per row and
    counts the non-null rows; the final merge adds the sum to 0.0."""
    s, n = 0.0, 0
    for v in values:
        if v is not None:
            s += v
            n += 1
    return (0.0 + s) / n if n else None


def _moments(values: Iterable[float | None]) -> tuple[float, float, float]:
    """(n, mean, M2) of ``CentralMomentAgg``: one task's Welford partial
    merged into the empty final buffer."""
    n = mean = m2 = 0.0
    for x in values:
        if x is None:
            continue
        n += 1.0
        d = x - mean
        dn = d / n
        mean = mean + dn
        m2 = m2 + d * (d - dn)
    return _merge_into_empty(n, mean, m2)


def _merge_into_empty(n2: float, mean2: float, m2_2: float):
    """Spark's moment merge with the left buffer (0, 0.0, 0.0): exact for
    finite partials, NaN where Spark's ``delta * deltaN * 0 * n2`` is."""
    n1 = 0.0
    new_n = n1 + n2
    delta = mean2 - 0.0
    delta_n = 0.0 if new_n == 0.0 else delta / new_n
    return (new_n, 0.0 + delta_n * n2,
            0.0 + m2_2 + delta * delta_n * n1 * n2)


def var_pop(values: Iterable[float | None]) -> float | None:
    n, _mean, m2 = _moments(values)
    return None if n == 0.0 else m2 / n


def stddev_pop(values: Iterable[float | None]) -> float | None:
    n, _mean, m2 = _moments(values)
    return None if n == 0.0 else _sqrt(m2 / n)


def _sqrt(x: float) -> float:
    """``java.lang.Math.sqrt``: NaN for a negative argument, not an error."""
    return math.sqrt(x) if x >= 0.0 or x != x else math.nan


def regr_slope(ys: Sequence[float | None],
               xs: Sequence[float | None]) -> float | None:
    """``regr_slope(y, x)``: ``CovPopulation(x, y)``'s co-moment ``ck``
    over ``VariancePop(x)``'s M2, on the rows where both are non-null."""
    n = x_mean = y_mean = ck = 0.0          # CovPopulation(x, y)
    vn = v_mean = m2 = 0.0                  # VariancePop(x)
    for y, x in zip(ys, xs):
        if x is None or y is None:
            continue
        new_n = n + 1.0
        dx = x - x_mean
        dy = y - y_mean
        dy_n = dy / new_n
        x_mean = x_mean + dx / new_n
        y_mean = y_mean + dy_n
        ck = ck + dx * (y - y_mean)
        n = new_n
        vn += 1.0
        d = x - v_mean
        dn = d / vn
        v_mean = v_mean + dn
        m2 = m2 + d * (d - dn)
    # the final merge into the empty buffer: n1 = 0, so the cross terms
    # vanish for finite partials (and are NaN where Spark's are)
    ck = 0.0 + ck + (x_mean - 0.0) * (
        0.0 if n == 0.0 else (y_mean - 0.0) / n) * 0.0 * n
    vn, _v_mean, m2 = _merge_into_empty(vn, v_mean, m2)
    if vn == 0.0 or m2 == 0.0:
        return None
    return ck / m2


def t_crit(z: float, z3: float, z5: float, n: int) -> float:
    """The Cornish-Fisher Student-t critical value of
    ``trend_with_confidence`` for ``n`` non-null values. ``z3``/``z5``
    are ``z ** 3``/``z ** 5`` as Spark's ``pow`` computes them
    (``StrictMath.pow``, which differs from C's ``pow`` in the last bit
    for about one z in five)."""
    nu = n - 2
    return (z + (z3 + z) / float(4 * nu)
            + (5 * z5 + 16 * z3 + 3 * z) / (96 * (float(nu) * float(nu))))


def trend_std_err(vy: float | None, vx: float | None,
                  slope: float | None, n: int) -> float | None:
    """``sqrt((var_pop(y) / var_pop(x) - slope ** 2) / (n - 2))``, null
    when any input is. ``StrictMath.pow(x, 2.0)`` is ``x * x``."""
    if vy is None or vx is None or slope is None:
        return None
    return _sqrt((vy / vx - slope * slope) / float(n - 2))


# --- exact percentile ------------------------------------------------------

def percentile(values: Iterable[float | None], ps: Sequence[float],
               float32: bool = False) -> list[float] | None:
    """``percentile(x, array(ps))`` over the non-null values in row order;
    ``float32`` when the column is FLOAT (Spark then keys its count map
    by ``java.lang.Float``, whose hash places signed zeros elsewhere)."""
    raw = [v for v in values if v is not None]
    if not raw:
        return None
    xs = sorted(raw, key=_sql_order)
    zeros = [v for v in xs if v == 0.0]
    signs = {math.copysign(1.0, v) for v in zeros}
    if len(signs) == 2:
        # each zero is one key of the count map: all rows of the first
        # key in slot order, then all rows of the other
        neg_first = _neg_zero_first(raw, float32)
        zeros.sort(key=lambda v: (math.copysign(1.0, v) > 0) == neg_first)
        i = xs.index(0.0)
        xs[i:i + len(zeros)] = zeros
    out = []
    for p in ps:
        pos = (len(xs) - 1) * p
        lo, hi = math.floor(pos), math.ceil(pos)
        a = xs[lo]
        if hi == lo or xs[hi] == a:          # Scala `==`: -0.0 == 0.0
            out.append(a)
        else:
            out.append((hi - pos) * a + (pos - lo) * xs[hi])
    return out


def _sql_order(v: float):
    """``SQLOrderingUtil.compareDoubles``: NaN last and equal to NaN,
    ``-0.0`` equal to ``0.0``."""
    return (True, 0.0) if v != v else (False, v)


def _neg_zero_first(raw: list[float], float32: bool) -> bool:
    """Whether ``-0.0`` precedes ``0.0`` in Spark's sorted counts.

    The two are distinct keys of the aggregate's ``OpenHashMap`` (boxed
    ``equals``) but equal under its sort, which is stable, so the map's
    slot order decides. The map is built three times: the task's update
    inserts in row order, deserialising its partial inserts in that map's
    slot order, and the final merge inserts in the deserialised map's
    slot order. Replay all three."""
    order = list(dict.fromkeys(_java_bits(v, float32) for v in raw))
    for _ in range(3):
        order = _slot_order(order, float32)
    return (order.index(_java_bits(-0.0, float32))
            < order.index(_java_bits(0.0, float32)))


def _java_bits(v: float, float32: bool) -> int:
    """The boxed key's ``equals`` identity: ``doubleToLongBits`` or
    ``floatToIntBits`` (NaN canonical)."""
    if float32:
        return 0x7FC00000 if v != v else struct.unpack(
            "<I", struct.pack("<f", v))[0]
    return 0x7FF8000000000000 if v != v else struct.unpack(
        "<Q", struct.pack("<d", v))[0]


def _slot(bits: int, float32: bool) -> int:
    """``OpenHashSet.hashcode(key.hashCode())``: Guava's
    ``murmur3_32_fixed().hashInt`` of ``Float.hashCode`` (the bits) or
    ``Double.hashCode`` (``bits ^ bits >>> 32``), as an unsigned int."""
    m = 0xFFFFFFFF
    k = bits if float32 else (bits ^ (bits >> 32)) & m
    k = (k * 0xCC9E2D51) & m
    k = ((k << 15) | (k >> 17)) & m
    k = (k * 0x1B873593) & m
    h = ((k << 13) | (k >> 19)) & m          # seed 0: h = 0 ^ k
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4                                   # input length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    return h ^ (h >> 16)


def _slot_order(keys: list[int], float32: bool) -> list[int]:
    """Distinct ``keys`` inserted in order into a fresh ``OpenHashSet``
    (capacity 64, load factor 0.7, quadratic probing, doubling rehash in
    slot order) → the keys in slot order."""
    cap, size = 64, 0
    table: list[int | None] = [None] * cap
    for key in keys:
        pos, delta = _slot(key, float32) & (cap - 1), 1
        while table[pos] is not None:
            pos, delta = (pos + delta) & (cap - 1), delta + 1
        table[pos] = key
        size += 1
        if size > int(0.7 * cap):
            cap *= 2
            grown: list[int | None] = [None] * cap
            for old in table:
                if old is None:
                    continue
                pos, delta = _slot(old, float32) & (cap - 1), 1
                while grown[pos] is not None:
                    pos, delta = (pos + delta) & (cap - 1), delta + 1
                grown[pos] = old
            table = grown
    return [k for k in table if k is not None]
