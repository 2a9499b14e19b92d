"""Java's ``StrictMath.log10`` in Python, bit for bit.

Spark's ``log10`` evaluates ``StrictMath.log10``: fdlibm's ``e_log10.c``
over ``e_log.c``.  numpy's and the C library's log10 differ from it in the
last bit for about one argument in seven, and a numpy kernel that must
reproduce a Spark plan's doubles exactly (LSA's TF-IDF, whose exact ties
between sentences are broken by id only when both sides agree on every
bit) needs fdlibm's own arithmetic.  This is a transcription of the two
fdlibm routines for positive finite arguments, the only ones a TF-IDF
ratio takes; it is scalar Python, for the few distinct arguments a kernel
has.
"""

from __future__ import annotations

import struct

_TWO54 = 1.80143985094819840000e16
_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_LG1 = 6.666666666666735130e-01
_LG2 = 3.999999999940941908e-01
_LG3 = 2.857142874366239149e-01
_LG4 = 2.222219843214978396e-01
_LG5 = 1.818357216161805012e-01
_LG6 = 1.531383769920937332e-01
_LG7 = 1.479819860511658591e-01
_IVLN10 = 4.34294481903251816668e-01
_LOG10_2HI = 3.01029995663611771306e-01
_LOG10_2LO = 3.69423907715893078616e-13


def _split(x: float) -> tuple[int, int]:
    """(k, high word) of x = 2**k * m with the high word's exponent
    cleared to 1.0's; subnormals are scaled up first."""
    k = 0
    hx = struct.unpack("<q", struct.pack("<d", x))[0] >> 32
    if hx < 0x00100000:
        k = -54
        hx = struct.unpack("<q", struct.pack("<d", x * _TWO54))[0] >> 32
    return k + (hx >> 20) - 1023, hx & 0x000FFFFF


def _with_high(x: float, hx: int) -> float:
    """x with its high word replaced by hx (the low word kept)."""
    if x < 2.2250738585072014e-308:
        x *= _TWO54
    lo = struct.unpack("<Q", struct.pack("<d", x))[0] & 0xFFFFFFFF
    return struct.unpack("<d", struct.pack("<Q", (hx << 32) | lo))[0]


def _log(x: float) -> float:
    """fdlibm ``__ieee754_log`` for a positive finite x."""
    k, hx = _split(x)
    i = (hx + 0x95F64) & 0x100000
    x = _with_high(x, hx | (i ^ 0x3FF00000))  # normalize x or x/2
    k += i >> 20
    f = x - 1.0
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    r = t2 + t1
    if ((hx - 0x6147A) | (0x6B851 - hx)) > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def log10(x: float) -> float:
    """fdlibm ``__ieee754_log10`` (Java's ``StrictMath.log10``) for a
    positive finite x."""
    k, hx = _split(x)
    i = 1 if k < 0 else 0
    y = float(k + i)
    z = y * _LOG10_2LO + _IVLN10 * _log(_with_high(x, hx | ((0x3FF - i) << 20)))
    return z + y * _LOG10_2HI
