"""Varbyte codec round-trip + property tests (pure numpy, no Spark)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_nlp_classifier_spark.index.codec import (
    delta_decode,
    delta_encode,
    segmented_delta_decode,
    vb_decode,
    vb_encode,
)


def test_empty():
    assert vb_encode(np.array([], dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0


def test_known_values():
    assert vb_encode(np.array([0], np.uint64)) == b"\x00"
    assert vb_encode(np.array([127], np.uint64)) == b"\x7f"
    assert vb_encode(np.array([128], np.uint64)) == b"\x80\x01"
    got = vb_decode(b"\x80\x01\x7f\x00")
    assert got.tolist() == [128, 127, 0]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), max_size=300
    )
)
def test_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert vb_decode(vb_encode(a)).tolist() == vals


def test_concatenation_self_delimiting():
    a = np.array([5, 300, 2**40], np.uint64)
    b = np.array([0, 1], np.uint64)
    assert vb_decode(vb_encode(a) + vb_encode(b)).tolist() == \
        a.tolist() + b.tolist()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=2**40),
        min_size=1, max_size=200, unique=True,
    )
)
def test_delta_roundtrip(ids):
    a = np.sort(np.array(ids, dtype=np.int64))
    assert delta_decode(delta_encode(a)).tolist() == a.tolist()


def test_segmented_delta_decode():
    seg1 = np.array([10, 20, 30], np.int64)
    seg2 = np.array([5, 6], np.int64)
    gaps = np.concatenate([delta_encode(seg1), delta_encode(seg2)])
    got = segmented_delta_decode(gaps, np.array([3, 2]))
    assert got.tolist() == [10, 20, 30, 5, 6]


def test_compression_ratio_dense_ids():
    ids = np.arange(1, 100_001, dtype=np.int64)
    enc = vb_encode(delta_encode(ids).astype(np.uint64))
    # dense gaps ≈ 1 byte/posting (first absolute value takes 3)
    assert len(enc) <= 100_000 + 4


def test_vb_encode_segmented_matches_per_block():
    from elasticsearch_nlp_classifier_spark.index.codec import (
        vb_encode, vb_encode_segmented,
    )
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 1 << 40, size=1000, dtype=np.int64).astype(np.uint64)
    starts = np.sort(rng.choice(np.arange(1, 1000), 37, replace=False))
    starts = np.concatenate(([0], starts))
    buf, off = vb_encode_segmented(vals, starts)
    ends = np.concatenate((starts[1:], [len(vals)]))
    for i, (s, e) in enumerate(zip(starts, ends)):
        assert buf[off[i]: off[i + 1]] == vb_encode(vals[s:e])


def _postings_runs(seed, payload):
    """(term, salt, doc_id)-sorted postings of random (term, salt) runs
    spanning several 16-posting blocks, with a salted term; ``payload``
    adds per-posting positions and start/end offsets."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    for t in ["alpha", "beta", "gamma", "delta", "eps"]:
        for salt in ([0] if t != "beta" else [0, 1, 2]):
            n = int(rng.integers(1, 60))
            ids = np.sort(rng.choice(np.arange(1, 500), n, replace=False))
            for d in ids:
                tf = int(rng.integers(1, 6))
                row = [t, salt, int(d), tf, int(rng.integers(5, 200))]
                if payload:
                    positions = np.sort(
                        rng.choice(np.arange(0, 300), tf, replace=False))
                    starts = positions * 7 + rng.integers(0, 3, tf)
                    ends = starts + rng.integers(1, 20, tf)
                    row += [positions.tolist(), starts.tolist(),
                            ends.tolist()]
                rows.append(tuple(row))
    cols = ["term", "salt", "doc_id", "tf", "dl"] + (
        ["positions", "start_offsets", "end_offsets"] if payload else [])
    pdf = pd.DataFrame(rows, columns=cols)
    return pdf.sort_values(["term", "salt", "doc_id"]).reset_index(drop=True)


def _assert_arrow_matches_naive(pdf):
    """_encode_arrow (mapInArrow hot path, zero-copy buffers) must emit
    blocks byte-identical to the per-group reference `_encode_group` on
    every column the input's payload shape produces."""
    import pandas as pd
    import pyarrow as pa

    from elasticsearch_nlp_classifier_spark.index.blocks import (
        _encode_arrow, _encode_group,
    )
    want = pd.concat(
        [_encode_group(g, 16, 42.5)
         for _, g in pdf.groupby(["term", "salt"], sort=False)],
        ignore_index=True,
    )
    # the Arrow hot path keys groups by the fixed-width tid, never the
    # string — feed it a deterministic term->tid mapping and map back
    tid_of = {t: i + 1000 for i, t in enumerate(sorted(pdf["term"].unique()))}
    apdf = pdf.copy()
    apdf.insert(0, "tid", apdf.pop("term").map(tid_of).astype("int64"))
    t = pa.Table.from_pandas(apdf, preserve_index=False).combine_chunks()
    got = _encode_arrow(t, 16, 42.5).to_pandas()
    term_of = {v: k for k, v in tid_of.items()}
    got.insert(0, "term", got.pop("tid").map(term_of))

    key = ["term", "salt", "block_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    for col in want.columns.drop("max_tfhat"):
        assert list(got[col]) == list(want[col]), col
    assert np.allclose(got["max_tfhat"], want["max_tfhat"], atol=1e-12)


def test_vectorized_partition_encode_matches_naive():
    _assert_arrow_matches_naive(_postings_runs(11, payload=False))


def test_arrow_partition_encode_matches_pandas():
    """Including the positions and offsets payloads (pos_vb, off_vb,
    len_vb)."""
    _assert_arrow_matches_naive(_postings_runs(23, payload=True))
