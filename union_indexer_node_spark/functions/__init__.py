"""Scalar/expression library (SURVEY §2.8, X1-X22).

Everything here returns pyspark Column expressions built from built-in
functions — JVM-side, whole-stage-codegen-eligible. The X13 edit fold
(ingest/editfold.py) is built-in expressions too.
"""

from .scalars import (  # noqa: F401
    asset_to_float,
    block_height_from_id,
    community_ref,
    deleted_status,
    detect_post_type,
    hive_id,
    is_short,
    post_refs,
    pullout_ipfs_links,
    roles_structs,
    storage_type,
    vote_sign_counts,
)
from .json_meta import parse_json_metadata, profile_projection  # noqa: F401
from .text import extract_mentions, tokenize  # noqa: F401
