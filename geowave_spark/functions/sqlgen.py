"""Dual-dialect SQL fragment generators (Spark SQL + DuckDB).

The training-data operators (dedup, MinHash LSH, SimHash, ANN, text
analysis) are expressed as *pure relational expressions* — array lambdas,
folds, windows — so they run JVM-side under whole-stage codegen in Spark
(UDFs are the slow path) and the DuckDB oracle evaluates the *same formula*
for bit-identical results.  The two dialects differ only in function names
and lambda index base; this module is the single source of truth that keeps
queries() and oracle_sql() from drifting apart (same pattern as
`table/geo.py`).

Dialect cheat sheet:
  split      : split(t,' ')          | string_split(t,' ')
  size       : size(a)               | len(a)
  index      : element_at(a,i) 1-based | a[i] 1-based
  xform(x,i) : i 0-based             | i 1-based
  fold       : aggregate(a, z, f)    | list_reduce(list_prepend(z, a), f)
  distinct   : array_distinct        | list_distinct
  intersect  : array_intersect       | list_intersect
  seq        : sequence(lo,hi)       | generate_series(lo,hi)   (both incl.)
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Dialect:
    name: str

    @property
    def is_spark(self) -> bool:
        return self.name == "spark"

    def split_ws(self, text: str) -> str:
        return f"split({text}, ' ')" if self.is_spark else f"string_split({text}, ' ')"

    def size(self, arr: str) -> str:
        return f"size({arr})" if self.is_spark else f"len({arr})"

    def at(self, arr: str, i1: str) -> str:
        """1-based element access; `i1` is an expression in 1-based terms."""
        return f"element_at({arr}, {i1})" if self.is_spark else f"({arr})[{i1}]"

    def xform(self, arr: str, body_of_x: str) -> str:
        """map: body uses `x`."""
        fn = "transform" if self.is_spark else "list_transform"
        return f"{fn}({arr}, x -> {body_of_x})"

    def xform_i(self, arr: str, body_of_x_i1: str) -> str:
        """map with 1-based index: body uses `x` and `i` (normalized 1-based)."""
        if self.is_spark:
            body = body_of_x_i1.replace("{i}", "(i + 1)")
            return f"transform({arr}, (x, i) -> {body})"
        body = body_of_x_i1.replace("{i}", "i")
        return f"list_transform({arr}, (x, i) -> {body})"

    def fold(self, arr: str, zero: str, body_of_acc_x: str) -> str:
        """left fold: body uses `acc` and `x`; sequential, so float results
        are bit-identical across engines."""
        if self.is_spark:
            return f"aggregate({arr}, {zero}, (acc, x) -> {body_of_acc_x})"
        return (
            f"list_reduce(list_prepend({zero}, {arr}), (acc, x) -> {body_of_acc_x})"
        )

    def arr_distinct(self, arr: str) -> str:
        return f"array_distinct({arr})" if self.is_spark else f"list_distinct({arr})"

    def arr_intersect(self, a: str, b: str) -> str:
        fn = "array_intersect" if self.is_spark else "list_intersect"
        return f"{fn}({a}, {b})"

    def seq(self, lo: str, hi: str) -> str:
        """Inclusive integer range as an array."""
        if self.is_spark:
            return f"sequence({lo}, {hi})"
        return f"generate_series({lo}, {hi})"

    def regexp_count(self, text: str, pattern: str) -> str:
        """Number of non-overlapping matches of ``pattern`` in ``text``.
        Keep patterns to the Java-regex/RE2 common subset (character
        classes, alternation, +) and avoid backslash classes — Spark SQL
        string literals eat backslashes that DuckDB keeps."""
        if self.is_spark:
            return f"size(regexp_extract_all({text}, '{pattern}', 0))"
        return f"len(regexp_extract_all({text}, '{pattern}'))"

    def arr_filter(self, arr: str, body_of_x: str) -> str:
        fn = "filter" if self.is_spark else "list_filter"
        return f"{fn}({arr}, x -> {body_of_x})"

    def intdiv(self, a: str, b: str) -> str:
        # operands are parenthesized: div/// share precedence with *, so
        # an unwrapped `x * y div p * q` left-associates into
        # `((x*y div p) * q)` — a silent MULTIPLY by the divisor's second
        # factor.  Both dialects made the same mistake so the dual-engine
        # gate agreed; the sf1 scale run exposed it as an int64 overflow
        # in q185's lift sum (values ~1e18 instead of ~1e6).
        return (f"(({a}) div ({b}))" if self.is_spark
                else f"(({a}) // ({b}))")

    def explode(self, arr: str) -> str:
        """Array -> rows generator usable in a SELECT list."""
        return f"explode({arr})" if self.is_spark else f"unnest({arr})"


SPARK = Dialect("spark")
DUCK = Dialect("duck")


# ---------------------------------------------------------------------------
# shared formulas (engine-independent once built through a Dialect)

def _splitmix31(i: int) -> int:
    """Deterministic odd 31-bit multiplier per bit index (splitmix64
    finalizer, truncated; forced odd)."""
    x = (i * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 31
    return (x & 0x7FFFFFFF) | 1


SIMHASH64_MULTS = tuple(_splitmix31(b + 1) for b in range(64))


# Per-position odd coefficients for the word-hash character polynomial
# (python-generated, embedded as literals in one shared text).  The old
# (961*len + 31*first + last) hash had only ~2k distinct values over a
# real vocabulary, which collapsed the 3-gram shingle space into a
# low-entropy Zipf set — at sf10 the MinHash band buckets degenerated to
# ~930 docs each (230M LSH candidate pairs from 500k documents) and the
# SimHash vote vectors converged corpus-wide.  A full-word polynomial
# over the first 16 characters (ascii(substr) of a missing position is 0
# in BOTH engines, verified) has ~2^31 effective range and fixes both.
def _wordval_expr(var: str) -> str:
    # Each ascii()/length() operand is widened to BIGINT *before* the
    # coefficient multiply: with ~4e5 coefficients, any codepoint
    # >= ~5351 (CJK etc.) overflows INT32 — DuckDB raises, Spark
    # (non-ANSI) silently wraps, so the engines would diverge on
    # non-ASCII text.  The final % 2^31 bounds the value so downstream
    # shingle arithmetic (v*1009^2) stays far inside int64 even for
    # max-codepoint input; for ASCII tokens the sum is < 2^31 (16
    # terms * 5e5 * 127 + 5e5 * len), so existing hash values are
    # unchanged.
    terms = [f"{_splitmix31(100 + i) % 500_000 | 1} * "
             f"cast(ascii(substr({var}, {i + 1}, 1)) as bigint)"
             for i in range(16)]
    terms.append(f"{_splitmix31(99) % 500_000 | 1} * "
                 f"cast(length({var}) as bigint)")
    return "((" + " + ".join(terms) + ") % 2147483648)"


WORDVAL = _wordval_expr("x")


def tokens(d: Dialect, text: str = "text") -> str:
    return d.split_ws(text)


def wordvals(d: Dialect, text: str = "text") -> str:
    """Array of integer word hashes (16-char coefficient polynomial)."""
    return d.xform(tokens(d, text), WORDVAL)


def shingles3_from(d: Dialect, vals: str) -> str:
    """3-gram shingle hashes from a word-value array *column*:
    s_i = ((v_i*1009 + v_{i+1})*1009 + v_{i+2}), bounded ~2.2e15
    (wordvals < ~2.1e9).

    ``vals`` must be a cheap reference (a projected column), NOT a nested
    expression: element access happens 3x per index, so inlining the
    word-value computation here is O(n^2) per row (measured 4.5s -> <1s on
    500 docs after hoisting it into a projection).
    """
    a1 = d.at(vals, "i")
    a2 = d.at(vals, "(i + 1)")
    a3 = d.at(vals, "(i + 2)")
    idx = d.seq("1", f"{d.size(vals)} - 2")
    body = f"(({a1} * 1009 + {a2}) * 1009 + {a3})"
    if d.is_spark:
        return f"transform({idx}, i -> {body})"
    return f"list_transform({idx}, i -> {body})"


P_MINHASH = 2147483647  # 2^31 - 1 (Mersenne prime)


def band_hash(cols: list[str]) -> str:
    """Fold r minhash columns into one band id (mod 1e9+7, overflow-safe)."""
    expr = f"({cols[0]} % 1000000007)"
    for c in cols[1:]:
        expr = f"(({expr} * 31 + {c}) % 1000000007)"
    return expr


def simhash16_from(d: Dialect, v: str) -> str:
    """SimHash from a word-value array column (hoist `wordvals` into a
    projection first — it is evaluated 16x here)."""
    bits = []
    for b in range(16):
        remix_bit = d.intdiv("((x * 2654435761) % 2147483648)", str(1 << b))
        vote = d.xform(
            v, f"(case when {remix_bit} % 2 = 1 then 1 else -1 end)"
        )
        s = d.fold(vote, "cast(0 as bigint)", "acc + x")
        bits.append(f"(case when {s} > 0 then {1 << b} else 0 end)")
    return "(" + " + ".join(bits) + ")"


def simhash64_halves_from(d: Dialect, v: str) -> tuple[str, str]:
    """64-bit SimHash from a word-value array column, returned as TWO
    nonnegative 32-bit halves (lo = bits 0..31, hi = bits 32..63).

    Two halves instead of one signed int64 so band extraction stays simple
    nonnegative div/mod arithmetic (bit 63 of a packed int64 would flip the
    sign and break `div`-based banding), and Hamming distance is
    bit_count(lo XOR lo') + bit_count(hi XOR hi') in both engines.

    Vote for bit b from feature value x: +1 iff
    ((x % 2^31) * A_b) % 2^31 >= 2^30 with 64 INDEPENDENT odd
    multipliers A_b (python-generated splitmix constants embedded as
    literals).  Two r3 lessons are baked in, both found by the sf3
    scale run:

    - the old (x*A + b*B) % 2^31 mix stepped consecutive bits by only
      b*B ~ 4.6% of the modulus, so neighboring-bit votes agreed ~95%
      of the time — signatures came out as BIT RUNS (0xFF00-style band
      values) and band buckets degenerated to >10k docs (965M candidate
      pairs at sf3);
    - callers should pass HIGH-ENTROPY features (the distinct 3-gram
      shingle array, q16's feature set), not unigram word values: the
      (len, first, last) word hash has ~2k distinct values, so every
      long doc converges to the corpus-wide vote vector and "near-dup"
      pairs explode quadratically (507k pairs at sf3 even with
      independent multipliers; ~zero with shingles).

    Intermediates fit int64 ((x % 2^31) * A_b < 2^62); folds are
    sequential -> bit-identical across engines.
    """

    def bit(b: int) -> str:
        mix = f"(((x % 2147483648) * {SIMHASH64_MULTS[b]}) % 2147483648)"
        vote = d.xform(v, f"(case when {mix} >= 1073741824 then 1 else -1 end)")
        s = d.fold(vote, "cast(0 as bigint)", "acc + x")
        return s

    lo = " + ".join(
        f"(case when {bit(b)} > 0 then {1 << b} else 0 end)" for b in range(32)
    )
    hi = " + ".join(
        f"(case when {bit(b)} > 0 then {1 << (b - 32)} else 0 end)"
        for b in range(32, 64)
    )
    return f"({lo})", f"({hi})"


# ----------------------------------------------------------------- vectors


def to_double_arr(d: Dialect, arr: str) -> str:
    return d.xform(arr, "cast(x as double)")


def dot(d: Dialect, a: str, b: str, n: int) -> str:
    """Sequential-fold dot product — bit-identical across engines.

    Measured note: an unrolled 64-term element_at sum (scalar codegen)
    was tried and REVERTED — it ran 2-4x SLOWER than this fold across
    every ANN query (q40 4.9s -> 12s at sf0.1): 64 independent
    element_at calls re-check bounds/null per term and the giant
    expression defeats common-subexpression reuse, while the HOF
    iterates the array data once.  CodegenFallback is not automatically
    the loser; measure per shape."""
    prods_idx = d.seq("1", str(n))
    ea = d.at(a, "i")
    eb = d.at(b, "i")
    if d.is_spark:
        prods = f"transform({prods_idx}, i -> {ea} * {eb})"
    else:
        prods = f"list_transform({prods_idx}, i -> {ea} * {eb})"
    return d.fold(prods, "cast(0.0 as double)", "acc + x")


def cosine_micro(d: Dialect, a: str, b: str, n: int) -> str:
    """floor(1e6 * cos_sim) with identical fold order in both engines."""
    dd = dot(d, a, b, n)
    na = dot(d, a, a, n)
    nb = dot(d, b, b, n)
    return f"cast(floor(1000000.0 * ({dd}) / (sqrt({na}) * sqrt({nb}))) as bigint)"


def hyperplane_bucket(d: Dialect, arr: str, n: int, nbits: int = 12) -> str:
    """Random-hyperplane LSH bucket id: bit j = (sum_d v_d * h_{j,d}) > 0,
    h_{j,d} = +-1 from a closed-form pseudo-random schedule."""
    bits = []
    for j in range(nbits):
        # h_{j,d}: +1 when ((j*131 + d*37) % 97) even else -1  (d 1-based)
        e = d.at(arr, "i")
        body = (
            f"(case when (({j} * 131 + i * 37) % 97) % 2 = 0 "
            f"then {e} else -{e} end)"
        )
        idx = d.seq("1", str(n))
        if d.is_spark:
            prods = f"transform({idx}, i -> {body})"
        else:
            prods = f"list_transform({idx}, i -> {body})"
        s = d.fold(prods, "cast(0.0 as double)", "acc + x")
        bits.append(f"(case when {s} > 0 then {1 << j} else 0 end)")
    return "(" + " + ".join(bits) + ")"
