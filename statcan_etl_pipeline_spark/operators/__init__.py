"""Reusable DataFrame→DataFrame operators (the engine's public library)."""

from .components import connected_components
from .dedup import (
    band_keys,
    exploded_shingles,
    jaccard_pairs,
    lsh_bucket_census,
    lsh_candidate_pairs,
    minhash_signature,
)
from .incremental import scd2_history, snapshot_diff, upsert
from .joins import salted_join
from .multimodal import (
    attach_binary_payload,
    fake_decode_features,
    fake_frame_sample,
    fake_resize,
)
from .quality import (
    check_accepted_values,
    check_freshness,
    check_not_null,
    check_range,
    check_referential,
    check_unique,
    dq_report,
)
from .simhash import simhash_candidate_pairs, simhash_signatures
from .temporal import (
    asof_join_backward,
    asof_join_forward,
    asof_join_nearest,
    sessionize,
)

__all__ = [
    "asof_join_backward",
    "band_keys",
    "asof_join_forward",
    "asof_join_nearest",
    "attach_binary_payload",
    "check_accepted_values",
    "check_freshness",
    "check_not_null",
    "check_range",
    "check_referential",
    "check_unique",
    "connected_components",
    "dq_report",
    "exploded_shingles",
    "fake_decode_features",
    "fake_frame_sample",
    "fake_resize",
    "jaccard_pairs",
    "lsh_bucket_census",
    "lsh_candidate_pairs",
    "minhash_signature",
    "salted_join",
    "scd2_history",
    "sessionize",
    "simhash_candidate_pairs",
    "snapshot_diff",
    "simhash_signatures",
    "upsert",
]
