"""Reusable column-expression builders (all JVM-side, codegen-friendly).

The engine's scalar-function surface (SURVEY.md §2.7 + north-star
text ops): import these to apply the same expressions the catalog
queries are verified with to any DataFrame.
"""

from wire_spark.functions.text import (  # noqa: F401
    bpe_tokens,
    fingerprint,
    lang_scores,
    quality_score,
    stopword_tokens,
    ws_tokens,
)
from wire_spark.queries._util import md5_long, word_shingles  # noqa: F401
