"""The tests of test_tdigest_batch at the default segmented/scalar
crossover: few digests (below ``_SEGMENTED_MIN_DIGESTS``) or large ones
(above ``_SEGMENTED_MAX_MEAN`` centroids) take the scalar fallback.

The tests are imported, not copied.  The fixture that forces the flat
segmented pass in test_tdigest_batch is private to that module, so it
does not apply here.
"""

from tests.test_tdigest_batch import (  # noqa: F401
    test_compact_many_matches_compact,
    test_decode_many_rejects_like_deserialize,
    test_decode_many_round_trip_and_nulls,
    test_digest_paths_match_scalar,
    test_equal_means_keep_their_input_order,
    test_group_rows_narrow_int_key_at_type_min,
    test_merge_all_compression_rule_in_batch,
    test_values_fold_matches_scalar,
)
