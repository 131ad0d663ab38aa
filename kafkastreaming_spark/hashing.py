"""Cross-engine portable hash primitives (shared by operators + oracles).

Two families, both evaluating to IDENTICAL values in Spark and DuckDB so
hash-derived operators stay exactly hash-checkable by the driver:

* **Portable 60-bit md5 hash** ``H(s)``: parse the first 15 hex chars of
  ``md5(s)`` as a BIGINT.  Uniform, string-input, used for salted splits,
  SimHash bit sampling, chunk/gram identities.
* **Polynomial char-gram hash**: a rolling polynomial over the char-code
  array ``c`` (base 131, mod the Mersenne prime 2^31-1).  Pure BIGINT
  ops — ~5 codegen'd int instructions per gram vs an md5 call, measured
  3.6× faster on the fingerprint path (see operators/pipeline.py).

Collision envelope (birthday bound): with ``m`` distinct grams hashed
into a space of size ``N``, P(any collision) ≈ m²/2N.

* 31-bit space (N = 2^31-1): safe for per-doc gram sets (~300 grams ⇒
  P ≈ 2e-5) and fixture-scale corpora, NOT for corpus-wide distinct-gram
  identity at 100 TB (m = 10^9 ⇒ collisions certain).
* 62-bit widened variant (:func:`poly_gram_wide`): two independent
  polynomial passes (base 131 mod 2^31-1, base 137 mod 2147483629)
  packed as ``hi * (2^31-1) + lo`` — same expression shape, still
  overflow-free in signed int64 (hi < 2^31 ⇒ product < 2^62), space
  N ≈ 2^62 ⇒ m = 10^9 grams gives P ≈ 1e-4.  Use this spelling when a
  gram hash becomes a corpus-wide join key at scale.

Spark arrays are 0-based, DuckDB lists 1-based: pass the appropriate
``idx`` expression (e.g. ``'i'`` vs ``'i+1'``) for the same logical gram.

The numpy kernels behind ``mapInPandas`` read text through
:func:`char_codes` (the codes the oracles' ``ascii(ch)`` yields, ASCII
only) and hash grams with :func:`poly_grams_np`, the numpy twin of
:func:`poly_gram`.  numpy is imported inside those two helpers, so this
module stays import-free for every operator module.
"""

from __future__ import annotations

# Portable 60-bit hash of an expression, Spark / DuckDB spellings.
H_SPARK = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"
H_DUCK = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

# Second independent 60 bits from the SAME md5 call (hex chars 16-30):
# pairing (H, H2) gives a 120-bit identity — P(any collision) ~ m^2/2^121,
# ~4e-13 even at m = 10^12 corpus-wide distinct grams — for the price of
# one md5 and a two-column join key.  Use the pair whenever a gram/chunk
# hash is a CORPUS-WIDE identity (round-7 audit: llm_contamination's
# train-test gram join, llm_chunk's dedup key); single H stays fine for
# bucketing (splits, sampling) and per-doc sets, per the birthday math
# above.
H2_SPARK = "CAST(conv(substr(md5({x}), 16, 15), 16, 10) AS BIGINT)"
H2_DUCK = "CAST('0x' || substr(md5({x}), 16, 15) AS BIGINT)"

# Polynomial gram-hash parameters.  acc < mod and acc*base + 127 < 2^39
# (narrow) / 2^62 (wide pack), so the math never overflows BIGINT in
# either engine (DuckDB errors on overflow rather than wrapping).
POLY_BASE = 131
POLY_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1
POLY_BASE2 = 137
POLY_MOD2 = 2147483629  # largest prime < 2^31 (independent modulus)


def poly_gram(idx: str, n: int, base: int = POLY_BASE, mod: int = POLY_MOD) -> str:
    """SQL expression for the polynomial hash of the ``n``-gram starting at
    position ``idx`` of char-code array ``c`` (both engines evaluate this
    identically — pure BIGINT ops)."""
    expr = f"CAST(c[{idx}] AS BIGINT)"
    for k in range(1, n):
        expr = f"(({expr}) * {base} + c[{idx}+{k}]) % {mod}"
    return expr


def poly_gram_wide(idx: str, n: int) -> str:
    """62-bit widened gram hash: two independent polynomial passes packed
    into one BIGINT (``hi * POLY_MOD + lo``).  Same expression shape and
    engine-portability as :func:`poly_gram`; use when gram hashes become
    corpus-wide identities (see module docstring for the birthday math)."""
    lo = poly_gram(idx, n)
    hi = poly_gram(idx, n, base=POLY_BASE2, mod=POLY_MOD2)
    return f"(({hi}) * {POLY_MOD} + ({lo}))"


def char_codes(text: str, key: str) -> "np.ndarray":
    """int64 char codes of ``text``: the values the oracles' ``ascii(ch)``
    reads.  A UTF-8 byte equals its codepoint only for ASCII, so any other
    text raises ``ValueError`` naming ``key`` instead of silently
    diverging from the oracle."""
    import numpy as np

    if not text.isascii():
        raise ValueError(
            f"{key} assumes ASCII text; switch the kernel to codepoints "
            "(ord) to support non-ASCII corpora"
        )
    return np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)


def poly_grams_np(c: "np.ndarray", n: int) -> "np.ndarray":
    """numpy twin of :func:`poly_gram`: the hash of every ``n``-gram of
    the int64 code array ``c``, in position order (empty when
    ``len(c) < n``)."""
    import numpy as np

    m = len(c) - n + 1
    if m < 1:
        return np.empty(0, dtype=np.int64)
    h = c[0:m].copy()
    for k in range(1, n):
        h = (h * POLY_BASE + c[k : m + k]) % POLY_MOD
    return h
