"""Checksum and normalization constants.

Pinned to the reference's exact values so checksums computed by this engine
match checksums computed by any reference-dialect database (cross-engine
verification): /root/reference/data_diff/databases/base.py:1271-1286.
"""

# MD5 hex digest is 32 hex chars; we keep only the low CHECKSUM_HEXDIGITS of it.
MD5_HEXDIGITS = 32

# Must be 12 or lower, otherwise SUM() of many checksums overflows 64-bit
# accumulators in the reference's target databases. We keep 12 for parity:
# a 48-bit checksum is one Spark long per row, and normalize.checksum_sum
# adds them exactly as two long halves.
CHECKSUM_HEXDIGITS = 12

_CHECKSUM_BITSIZE = CHECKSUM_HEXDIGITS << 2  # 48 bits
CHECKSUM_MASK = (2**_CHECKSUM_BITSIZE) - 1

# Center the checksum distribution at 0 so positive and negative values cancel
# and SUM() can add many more terms before overflowing (reference
# base.py:1277-1286 explains the rationale).
CHECKSUM_OFFSET = CHECKSUM_MASK // 2

# normalize.checksum_sum splits each checksum at this bit: the high part
# (c >> 24, |.| <= 2**23) and the low part (c & 0xFFFFFF, < 2**24) are summed
# as separate longs, which overflow only past 2**39 rows in one group.
CHECKSUM_SUM_LO_BITS = 24

# 1-indexed start position of the low hex digits inside the md5 digest
# (SQL substring is 1-indexed): 21 for 12 hex digits.
CHECKSUM_SUBSTR_POS = 1 + MD5_HEXDIGITS - CHECKSUM_HEXDIGITS

# Literal used in place of NULL when concatenating columns for a row
# fingerprint (reference base.py:411-421). Distinguishes NULL from ''.
NULL_LITERAL = "<null>"

# Separator between columns in the row fingerprint (reference base.py:417).
FINGERPRINT_SEP = "|"

# Default fractional digits compared for temporal values (reference
# base.py:1288: DEFAULT_DATETIME_PRECISION = 6).
DEFAULT_DATETIME_PRECISION = 6

# Default fractional digits compared for floating-point values. The reference
# derives this from the column's binary precision per-database
# (base.py:771-774); inside one Spark engine both sides share a type, so a
# fixed, user-overridable default is enough. 6 keeps decimal(38, p) casts of
# doubles well inside their exactly-representable range.
DEFAULT_NUMERIC_PRECISION = 6
