"""Pre-tokenization (north-star, SURVEY.md §2.11c) shared by the
subword tokenizers (``operators/bpe.py``, ``operators/unigram.py``):
lowercase, then split into letter / digit / punctuation runs — all JVM
built-ins (``regexp_extract_all``), no UDF, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# letter runs / digit runs / punctuation runs — the regex-split shape
# subword tokenizers apply before merges (same pattern as queries/text).
BPE_PRETOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


def _pretokens(text_col: str) -> Column:
    return F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(BPE_PRETOKEN_RE), 0
    )
