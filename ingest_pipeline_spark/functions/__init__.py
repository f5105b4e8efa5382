from .scalars import (  # noqa: F401
    parse_bool,
    parse_timestamp_multi,
    tolerant_float_eq,
    tolerant_ts_eq,
    parse_text_list,
    expand_slice_ids,
    hex_prefix_to_long,
)
from .text import (  # noqa: F401
    tokenize_ws,
    token_count,
    normalize_text,
    fingerprint_md5,
    quality_features,
    langid_scores,
)
