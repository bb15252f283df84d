"""Property tests for the postings codec and fieldnorm quantization.

Models the reference's codec coverage (postings/fieldnorm roundtrips live
in its tantivy dependency; FIXTURES.md §6 defines the property-test
contract used here).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.codec import (
    BLOCK_SIZE,
    FIELD_NORMS_TABLE,
    decode_postings,
    encode_postings,
    fieldnorm_to_id,
    id_to_fieldnorm,
    varint_decode,
    varint_encode,
)
from quickwit_spark.codec.postings import block_metadata, decode_block_metadata


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr), len(arr)), arr)


def test_varint_large_random():
    rng = np.random.default_rng(42)
    arr = rng.integers(0, 2**40, size=200_000, dtype=np.uint64)
    blob = varint_encode(arr)
    assert np.array_equal(varint_decode(blob, len(arr)), arr)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**6),  # gap
            st.integers(min_value=1, max_value=255),  # tf
        ),
        min_size=0,
        max_size=5000,
    )
)
@settings(max_examples=50, deadline=None)
def test_postings_roundtrip(pairs):
    gaps = np.array([g for g, _ in pairs], dtype=np.uint64)
    doc_ids = np.cumsum(gaps).astype(np.uint32) if len(gaps) else np.zeros(0, np.uint32)
    tfs = np.array([t for _, t in pairs], dtype=np.uint32)
    docs_blob, tfs_blob = encode_postings(doc_ids, tfs)
    d2, t2 = decode_postings(docs_blob, tfs_blob, len(doc_ids))
    assert np.array_equal(d2, doc_ids)
    assert np.array_equal(t2, tfs)


def test_postings_compression_is_real():
    rng = np.random.default_rng(7)
    doc_ids = np.sort(rng.choice(10**7, size=100_000, replace=False)).astype(np.uint32)
    tfs = np.minimum(rng.geometric(0.5, size=100_000), 255).astype(np.uint32)
    docs_blob, tfs_blob = encode_postings(doc_ids, tfs)
    # dense gaps (~100) need 1 byte mostly; must beat raw 4B/doc clearly
    assert len(docs_blob) < 2 * len(doc_ids)
    assert len(tfs_blob) <= 2 * len(tfs)


def test_fieldnorm_table_properties():
    t = FIELD_NORMS_TABLE
    assert t[0] == 0
    assert np.all(np.diff(t.astype(np.int64)) > 0)  # strictly increasing
    # exact region: small doc lengths quantize losslessly
    small = np.arange(0, 16, dtype=np.uint64)
    assert np.array_equal(id_to_fieldnorm(fieldnorm_to_id(small)), small)


@given(st.integers(min_value=0, max_value=2**31))
@settings(max_examples=300, deadline=None)
def test_fieldnorm_round_down(length):
    arr = np.array([length], dtype=np.uint64)
    fid = fieldnorm_to_id(arr)
    dec = id_to_fieldnorm(fid)[0]
    assert dec <= length
    if fid[0] < 255:
        assert FIELD_NORMS_TABLE[fid[0] + 1] > length  # tightest id


def test_block_metadata_bounds():
    rng = np.random.default_rng(3)
    n = 1000
    doc_ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.uint32)
    comp = rng.random(n).astype(np.float32)
    last_blob, max_blob = block_metadata(doc_ids, comp)
    last, maxes = decode_block_metadata(last_blob, max_blob)
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(last) == len(maxes) == nblocks
    for i in range(nblocks):
        sl = slice(i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n))
        assert last[i] == doc_ids[sl][-1]
        assert maxes[i] == pytest.approx(comp[sl].max())
        assert np.all(comp[sl] <= maxes[i])  # upper-bound property (WAND safety)


# ---------------------------------------------------------------------------
# bitpacked block codec
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

from quickwit_spark.codec.bitpack import bitpack_decode, bitpack_encode


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=700)
)
@settings(max_examples=200, deadline=None)
def test_bitpack_roundtrip(vals):
    import numpy as np

    v = np.asarray(vals, dtype=np.uint64)
    assert list(bitpack_decode(bitpack_encode(v), len(v))) == vals


def test_bitpack_smaller_than_varint_on_small_deltas():
    import numpy as np

    from quickwit_spark.codec.postings import varint_encode

    deltas = np.ones(1280, dtype=np.uint64)  # dense posting list
    assert len(bitpack_encode(deltas)) < len(varint_encode(deltas))


# ---------------------------------------------------------------------------
# truncated blobs raise instead of decoding wrong values
# ---------------------------------------------------------------------------

_VALUES = np.array([3, 397, 0, 2**35, 127, 128, 2**63 - 1], dtype=np.uint64)
_VARINT = varint_encode(_VALUES)


@pytest.mark.parametrize("cut", range(len(_VARINT)))
def test_varint_truncated_blob_raises(cut):
    with pytest.raises(ValueError):
        varint_decode(_VARINT[:cut], len(_VALUES))


@pytest.mark.parametrize(
    "cut", [c for c in range(1, len(_VARINT)) if _VARINT[c - 1] & 0x80]
)
def test_varint_continuation_ending_raises_without_count(cut):
    with pytest.raises(ValueError, match="truncated"):
        varint_decode(_VARINT[:cut])


def test_truncated_docs_blob_is_not_a_wrong_hit():
    docs, tfs = encode_postings(np.array([3, 400]), np.array([1, 2]))
    with pytest.raises(ValueError, match="truncated"):
        decode_postings(docs[:-1], tfs, 2)


# three blocks: full width-9, all-zero width-0, short width-2
_BP_VALUES = np.concatenate(
    [np.arange(BLOCK_SIZE) * 3, np.zeros(BLOCK_SIZE), np.arange(40) % 4]
).astype(np.uint64)
_BITPACK = bitpack_encode(_BP_VALUES)


@pytest.mark.parametrize("cut", range(len(_BITPACK)))
def test_bitpack_truncated_blob_raises(cut):
    with pytest.raises(ValueError, match="truncated"):
        bitpack_decode(_BITPACK[:cut], len(_BP_VALUES))


def test_bitpack_full_blob_still_decodes():
    assert np.array_equal(bitpack_decode(_BITPACK, len(_BP_VALUES)), _BP_VALUES)
