"""Shuffle-width narrowing for hex-string key columns: provenance shas and
uuid5 ids.

Every provenance sha in the engine is ``sha2(content, 256)`` — a 64-char
lowercase-hex string — and every deterministic id is an RFC 4122 uuid5
rendered as the 36-char lowercase ``8-4-4-4-12`` string (functions/ids.py).
The hex alphabet doubles the byte count of the digest and defeats lz4's
match-based shuffle compression (random hex has no repeats): a sha costs
~72 bytes of UnsafeRow per shuffled row where the raw digest costs 40, a
uuid ~44 where its digest costs 20. At 10^12-file scale the sha rides the
resolution joins, the triple dedup and every edge-family aggregation, and
chunk ids ride the contains/structural edge dedup exchanges as group KEYS;
narrowing them to binary across those exchanges removes ~25-30% of the
sha rows' shuffle bytes and ~40% of the uuid key bytes.

One :class:`Codec` per key family holds the column names and the guard; the
narrow/widen/min/distinct logic is written once on the record. The
narrowing is *guarded* so it is bit-exact for arbitrary inputs, not just
contract values: a value converts only when it is byte-for-byte in the
codec's canonical lowercase form (SHA: exactly 64 chars of lowercase hex;
UUID: 36 chars, dashes at positions 9/14/19/24, the remaining 32 chars
lowercase hex). Everything else — test fixtures like ``"sha1"``, repo:path
container ids, NULLs, uppercase variants — rides an overflow string column
untouched, so narrow→widen is the identity for ALL inputs, and
distinct/groupBy over the (bin, raw) pair equals distinct/groupBy over the
original strings: the converted and overflow classes are disjoint and the
conversion is bijective on its class.

Order facts the min path relies on (pinned by tests/test_sha.py):
- fixed-length binary compares byte-lexicographically in Spark, and lowercase
  hex encoding is monotone per byte (uuid dashes sit at fixed positions), so
  ``min`` over the binary column equals ``min`` over the original strings
  within the converted class;
- ``F.least`` skips NULLs, so ``least(widen(min(bin)), min(raw))`` is the min
  over the ORIGINAL strings even when a group mixes converted and overflow
  values (each original is reproduced exactly before the final comparison).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Codec:
    """A guarded string↔binary narrowing: ``guard`` selects the canonical
    values, ``encode``/``decode`` convert them, ``bin``/``raw`` name the
    binary and overflow columns."""

    bin: str
    raw: str
    guard: Callable[[Column], Column]
    encode: Callable[[Column], Column]
    decode: Callable[[Column], Column]

    def narrow(self, col: Column) -> tuple[Column, Column]:
        """Split a key column into (binary, overflow-string) columns.

        ``F.unhex`` yields NULL on any non-hex char, which the SHA guard
        relies on. Exactly one of the two is non-null per non-null input.
        """
        bin_col = F.when(self.guard(col), self.encode(col))
        raw_col = F.when(bin_col.isNull(), col)
        return bin_col, raw_col

    def widen(self, bin_col: Column, raw_col: Column) -> Column:
        """Reassemble the original string (bit-exact for all inputs)."""
        return F.coalesce(self.decode(bin_col), raw_col)

    def min_agg(self) -> tuple[Column, Column]:
        """The aggregate pair every narrowed min-provenance groupBy uses.

        ``agg(*codec.min_agg())`` keeps the shuffle on the narrow columns;
        feed the two results to :meth:`min` for the reconstructed-string
        minimum.
        """
        return F.min(self.bin).alias(self.bin), F.min(self.raw).alias(self.raw)

    def min(self, bin_col: Column, raw_col: Column) -> Column:
        """``min(original string)`` from pre-aggregated min(bin)/min(raw)
        columns — the shuffle carries the narrow pair, the final comparison
        happens on the reconstructed strings."""
        return F.least(self.widen(bin_col, F.lit(None).cast("string")), raw_col)

    def distinct(self, df: DataFrame, name: str) -> DataFrame:
        """``distinct()`` over a frame carrying the narrow pair, widened after.

        The dedup exchange moves the binary digest; the output replaces the
        (bin, raw) pair with a single ``name`` string column in ``bin``'s
        position, other columns untouched. Distinct over the pair equals
        distinct over the original strings because the narrowing is
        injective.
        """
        out_cols: list[Column] = []
        for col in df.columns:
            if col == self.bin:
                out_cols.append(self.widen(F.col(self.bin), F.col(self.raw)).alias(name))
            elif col != self.raw:
                out_cols.append(F.col(col))
        return df.distinct().select(*out_cols)


def _uuid_format(bin_col: Column) -> Column:
    h = F.lower(F.hex(bin_col))
    return F.concat(
        F.substring(h, 1, 8),
        F.lit("-"),
        F.substring(h, 9, 4),
        F.lit("-"),
        F.substring(h, 13, 4),
        F.lit("-"),
        F.substring(h, 17, 4),
        F.lit("-"),
        F.substring(h, 21, 12),
    )


_UUID_RE = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"

# 64-char lowercase hex ↔ 32-byte digest; the lowercase gate keeps uppercase
# variants byte-exact on the overflow path at the cost of one string compare
SHA = Codec(
    bin="_sha_bin",
    raw="_sha_raw",
    guard=lambda col: (F.length(col) == 64) & (col == F.lower(col)),
    encode=F.unhex,
    decode=lambda b: F.lower(F.hex(b)),
)

# canonical lowercase uuid string ↔ 16-byte digest
UUID = Codec(
    bin="_uuid_bin",
    raw="_uuid_raw",
    guard=lambda col: col.rlike(_UUID_RE),
    encode=lambda col: F.unhex(F.translate(col, "-", "")),
    decode=_uuid_format,
)
