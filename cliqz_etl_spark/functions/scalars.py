"""Scalar function library — SURVEY.md §2.4 (F1-F10), columnar.

Every function returns a ``Column`` built from pyspark.sql.functions
(JVM-side, codegen'd). The reference ran these as row-at-a-time Python
cleaning functions with try/except→NULL (testpilot_data.py:53-63); here
the same error-tolerant semantics come from ``try_*`` expressions, so no
Python is involved.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# The engines' raw try-casts diverge on string→integer inputs: Spark's
# UTF8String.trimAll strips *any* leading/trailing whitespace-or-ISO-control
# char ('\x1f42' -> 42, '0\x1f' -> 0), while DuckDB trims only standard
# whitespace and additionally accepts decimal/scientific/hex forms
# ('4.0'/'1e3'/'0x10' -> BIGINT). clean_cast therefore pins an explicit
# contract — the conservative intersection — and clean_cast_sql() emits the
# byte-identical DuckDB fragment, so every casting oracle compares the same
# semantics (tests/test_properties.py holds the pair together).
_INT_DTYPES = {"byte", "tinyint", "short", "smallint", "int", "integer",
               "long", "bigint"}
# Explicit class, not \s: Java and RE2 disagree on \s membership (\x0b).
# \A/\z anchors, not ^/$: Java's $ also matches BEFORE a final line
# terminator (so '42'/'42 '/'42 ' would pass rlike while
# RE2's $ rejects them); \A and \z mean begin/end-of-input in both.
_INT_PATTERN = ("\\A[ \\t\\n\\x0b\\x0c\\r]*[+-]?[0-9]+"
                "[ \\t\\n\\x0b\\x0c\\r]*\\z")
_DUCK_INT_TYPES = {"byte": "TINYINT", "tinyint": "TINYINT",
                   "short": "SMALLINT", "smallint": "SMALLINT",
                   "int": "INTEGER", "integer": "INTEGER",
                   "long": "BIGINT", "bigint": "BIGINT"}


def clean_cast(col: Column | str, dtype: str) -> Column:
    """Error-tolerant cast (P4/F4): bad input -> NULL, never an error.
    Rebuild of build_cell's try/except→None (testpilot_data.py:53-63).

    For integer dtypes the accepted grammar is pinned to
    ``[ws]* [+-]? [0-9]+ [ws]*`` (ws = space \\t \\n \\x0b \\x0c \\r);
    anything else — embedded control chars, decimals, hex — is NULL on
    both engines via the mirrored guard in clean_cast_sql(). Overflow
    still NULLs through try_cast. Non-integer dtypes pass straight to
    try_cast (no known cross-engine divergence in gate use)."""
    c = _c(col)
    if dtype.lower() in _INT_DTYPES:
        return F.when(c.rlike(_INT_PATTERN), c).try_cast(dtype)
    return c.try_cast(dtype)


def clean_cast_sql(expr: str, dtype: str) -> str:
    """The DuckDB oracle fragment matching clean_cast() exactly: same
    guard regex (RE2 reads the identical escape sequence), same NULL-out,
    same overflow behavior through TRY_CAST."""
    d = dtype.lower()
    if d in _DUCK_INT_TYPES:
        return (f"CASE WHEN regexp_matches({expr}, '{_INT_PATTERN}') "
                f"THEN TRY_CAST({expr} AS {_DUCK_INT_TYPES[d]}) END")
    return f"TRY_CAST({expr} AS {dtype})"


def split_select(col: Column | str, sep: str = r"\|", index: int = 0) -> Column:
    """Split on a separator and take one element (F2,
    testpilot_data.py:109-111 `split_cliqz_id`). NULL-propagating; an
    out-of-range index yields NULL (element_at on arrays is 1-based)."""
    return F.element_at(F.split(_c(col), sep), index + 1)


def isin_flag(col: Column | str, values: list) -> Column:
    """Set-membership boolean (F3, testpilot_data.py:177)."""
    return _c(col).isin(values)


def indicator(cond: Column) -> Column:
    """Boolean condition as a 0/1 long, for summable event flags (F8,
    profile_daily.py:189-195)."""
    return F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("long")


def parse_yyyymmdd(col: Column | str) -> Column:
    """'%Y%m%d' date parse (F5, testpilot_data.py:86-87); unparseable -> NULL
    (matches the reference dropping bad dates, profile_daily.py:128-133)."""
    return F.try_to_timestamp(_c(col), F.lit("yyyyMMdd")).cast("date")


def concat_key(*cols: Column | str, sep: str = "-") -> Column:
    """Separator concat for composite map keys (F6, profile_daily.py:159
    `engine + "-" + source`)."""
    return F.concat_ws(sep, *[_c(c) for c in cols])


def hours(col: Column | str, default: float = 0.0) -> Column:
    """seconds -> hours with NULL -> default (F7, profile_daily.py:168)."""
    return F.coalesce(_c(col).cast("double"), F.lit(default)) / F.lit(3600.0)


def decrypt_aes_ecb_b64(col: Column | str, key: Column,
                        zero_pad_fallback: bool = True) -> Column:
    """F1 (testpilot_data.py:98-106): base64 -> AES-ECB decrypt -> strip
    trailing zero bytes -> drop the 4-byte head and tail -> UTF-8. Any bad
    input (malformed base64, wrong key, invalid UTF-8) -> NULL, the
    reference's ``decrypt(ct).rstrip("\\0")[4:-4].decode("utf-8")`` with
    its errors turned into NULL.

    One JVM expression, two arms. The PKCS arm is ``aes_decrypt`` ECB/
    'DEFAULT' (PKCS unpad). The reference's producer, though, was
    PyCrypto raw ECB over ZERO-padded plaintext, which fails the PKCS
    unpad, and Spark refuses ('ECB', 'NONE'). So when the PKCS arm NULLs,
    the second arm appends the encryption of one full PKCS pad block
    (``aes_encrypt(X'', key)``): unpadding then removes exactly that
    block and leaves the raw zero-padded plaintext. Zeros are stripped on
    the hex form, not with ``rtrim`` on a string, which would read
    invalid UTF-8 lead bytes as multi-byte characters; the [4:-4] slice
    counts bytes, as the reference's did.

    ``zero_pad_fallback=False`` keeps only the PKCS arm; it exists so a
    probe can count the rows the second arm serves."""
    raw = F.try_to_binary(_c(col), F.lit("base64"))
    ecb, pkcs = F.lit("ECB"), F.lit("DEFAULT")
    plain = F.try_aes_decrypt(raw, key, ecb, pkcs)
    if zero_pad_fallback:
        pad_block = F.aes_encrypt(F.lit(b""), key, ecb, pkcs)
        plain = F.coalesce(plain, F.when(
            F.octet_length(raw) > 0,
            F.try_aes_decrypt(F.concat(raw, pad_block), key, ecb, pkcs)))
    stripped = F.unhex(F.regexp_replace(F.hex(plain), "(00)+$", ""))
    inner = F.substring(stripped, 5,
                        F.greatest(F.octet_length(stripped) - 8, F.lit(0)))
    return F.try_validate_utf8(inner.cast("string"))


def null_safe(col: Column | str, default) -> Column:
    """F9: the reference's `option(default, f)` NULL-propagation helper
    (profile_daily.py:200-206). Spark expressions already propagate NULL;
    this supplies the default side."""
    return F.coalesce(_c(col), F.lit(default))
