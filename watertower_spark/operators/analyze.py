"""Corpus-prep text normalization: ``nfkc_fold``.

Document analysis itself runs inside the index build's segment kernel
(``index_build._segment_kernel``), which analyzes and packs in one
Python task so the exploded (doc, term) stream never crosses the
Python/JVM boundary.
"""

from __future__ import annotations

import pandas as pd


def nfkc_fold(col):
    """Column → NFKC-folded column (Arrow-batched pandas UDF).

    Corpus-prep companion to the opt-in ``en-nfkc`` analyzer: folds
    full-width forms (ＡＢＣ→ABC), ideographic spaces (U+3000→U+0020),
    ligatures (ﬁ→fi), and compatibility signs (№→No) per Unicode NFKC.
    The parity analyzers never call this — the reference applies no
    normalization (/root/reference/nlp/english/english.go:20-28) — but
    a web corpus can fold once at ingest and index with plain ``en``.

    Vectorized via ``Series.str.normalize`` (pandas → unicodedata);
    nulls pass through.
    """
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _fold(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFKC")

    return _fold(col)
