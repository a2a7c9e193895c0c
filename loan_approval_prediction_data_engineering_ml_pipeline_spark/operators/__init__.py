from .relational import (  # noqa: F401
    star_join,
    null_audit,
    duplicate_count,
    value_counts,
    top_k,
    grouped_stats,
)
