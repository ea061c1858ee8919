"""Property pins for the round-14 pure laws: the append-only state
machine and the two width/parallelism sizing functions. These are the
decision kernels standing infrastructure rides on, so they get
hypothesis coverage beyond the example-based branch pins."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from milan_telecom_etl__spark.artifacts import append_plan
from milan_telecom_etl__spark.bucketed import (
    MIN_BUCKET_BYTES,
    TARGET_BUCKET_BYTES,
    _derive_n,
)
from milan_telecom_etl__spark.session import derived_default_parallelism

_meta = st.lists(st.integers(min_value=0, max_value=2**40), min_size=2, max_size=2)
_files = st.dictionaries(
    st.text(min_size=1, max_size=8), _meta, min_size=0, max_size=8
)


@given(_files)
def test_append_plan_steady_state_serves(files):
    assert append_plan(dict(files), dict(files)) == ("serve", [])


@given(_files, _files)
@settings(max_examples=200)
def test_append_plan_never_appends_unless_strict_superset(known, current):
    action, new_files = append_plan(known, current)
    if action == "append":
        # strict append-only growth: every known file present unchanged,
        # and the reported delta is exactly the difference, sorted
        assert all(current.get(f) == m for f, m in known.items())
        assert new_files == sorted(set(current) - set(known))
        assert new_files
    elif action == "serve":
        assert set(known) == set(current)
        assert all(current[f] == m for f, m in known.items())
    else:
        assert action == "rebuild" and new_files == []
        # rebuild only when history is NOT intact
        assert known is None or any(
            f not in current or current[f] != m for f, m in known.items()
        )


@given(
    st.integers(min_value=1, max_value=2**44),
    st.integers(min_value=1, max_value=1024),
)
@settings(max_examples=300)
def test_derive_n_invariants(nbytes, par):
    n = _derive_n(nbytes, par)
    # power of two, at least one bucket
    assert n >= 1 and (n & (n - 1)) == 0
    # ceiling: a bucket never exceeds the target size (the task-memory
    # half of the sizing law)
    assert nbytes / n <= TARGET_BUCKET_BYTES
    # floor: rounding never drives buckets under the small-files bound
    # when a legal smaller width exists (the never-under-fed invariant)
    if n > 1 and nbytes / n < MIN_BUCKET_BYTES:
        assert (n >> 1) * TARGET_BUCKET_BYTES < nbytes


@given(
    st.integers(min_value=0, max_value=2**44),
    st.integers(min_value=1, max_value=1024),
)
@settings(max_examples=300)
def test_derived_default_parallelism_invariants(tier_bytes, cores):
    dp = derived_default_parallelism(tier_bytes, cores)
    assert dp >= cores  # never below the fleet
    assert (dp & (dp - 1)) == 0  # pow2 (stable under corpus drift)
    # monotone in data volume at fixed cores
    assert derived_default_parallelism(tier_bytes * 2, cores) >= dp
