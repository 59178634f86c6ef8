"""The JVM near-duplicate key (ops.common.dup_key_col) equals the scalar
oracle textops.dup_key: S1's boilerplate census and ops.dedup's masked
groups compute the key in Spark, the pandas oracle in Python."""

from __future__ import annotations

import unicodedata

import pandas as pd

from kgp import textops
from kgp.ops.common import dup_key_col

# whitespace runs (incl. \x0b, which Java's \s has and \x1c, which it does
# not), ASCII digit runs and an uppercase letter around each code point
_TEMPLATE = " \t{c}Ab 12{c}\x0b\x0bx9 {c}\x1c "

_EDGES = [
    "", " ", "   ", "\t\n\r\f\x0b", "\x0b", "a\x0bb", "\x1c", "a\x1c b",
    " \x1c ", "12", "a1b22c333", "٣٤", "pay ٣ kr",
    "１２", "० 7 ๑", "ÀB 9 c", " x\u0085y",
]


def _assigned_bmp() -> list[str]:
    return [chr(cp) for cp in range(0x10000)
            if unicodedata.category(chr(cp)) not in ("Cn", "Cs")]


def test_dup_key_col_matches_scalar_on_assigned_bmp(spark):
    # the equality rests on Spark's ICU case mappings (the default); the
    # JVM's own toLowerCase differs from Python on ~1.7k assigned code points
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "true"

    texts = [_TEMPLATE.format(c=c) for c in _assigned_bmp()] + _EDGES
    assert len(texts) > 60_000
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    got = (spark.createDataFrame(pdf)
           .select("i", dup_key_col("text").alias("k"))
           .toPandas().sort_values("i")["k"].tolist())
    want = [textops.dup_key(t) for t in texts]
    bad = [(t, g, w) for t, g, w in zip(texts, got, want) if g != w]
    assert not bad, bad[:20]
