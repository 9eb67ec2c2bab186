from .shims import (
    dateadd,
    get_ignore_case,
    json_array_to_exploded_fields,
    substring1,
    sysdate,
    union_all,
    union_dedup,
)
from .text import (
    bpe_ish_token_count,
    canonicalize_content_sql,
    doc_fingerprint,
    lang_id,
    normalize_and_canonicalize,
    normalize_lang_sql,
    quality_score,
    sha256_hex,
    token_count,
)

__all__ = [
    "bpe_ish_token_count",
    "canonicalize_content_sql",
    "dateadd",
    "doc_fingerprint",
    "get_ignore_case",
    "json_array_to_exploded_fields",
    "lang_id",
    "normalize_and_canonicalize",
    "normalize_lang_sql",
    "quality_score",
    "sha256_hex",
    "substring1",
    "sysdate",
    "token_count",
    "union_all",
    "union_dedup",
]
