"""Property tests for the varint/delta posting codec (hypothesis).

Guards in particular the run-grouped decode_blocks (consecutive kept blocks
decode as one varint pass): any keep subset must equal the block-by-block
reference decode, and keep=all must equal decode_postings."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from probe_spark.index.codec import (
    decode_blocks,
    decode_postings,
    encode_postings,
    varint_decode,
    varint_encode,
)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62 - 1), min_size=1, max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.asarray(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == values


@st.composite
def _postings(draw):
    n = draw(st.integers(min_value=1, max_value=600))
    gaps = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000), min_size=n, max_size=n
        )
    )
    ids = np.cumsum(np.asarray(gaps, dtype=np.int64) + 1)  # strictly sorted
    dls = np.asarray(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=5_000),
                min_size=n,
                max_size=n,
            )
        ),
        dtype=np.int64,
    )
    block = draw(st.sampled_from([4, 16, 128]))
    return ids, dls, block


@given(_postings())
@settings(max_examples=100, deadline=None)
def test_encode_decode_postings_roundtrip(p):
    ids, dls, block = p
    docs_bin, dl_bin, *_ = encode_postings(ids, dls, block=block)
    got_ids, got_dls = decode_postings(docs_bin, dl_bin)
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()


@given(_postings(), st.data())
@settings(max_examples=100, deadline=None)
def test_decode_blocks_any_subset_matches_reference(p, data):
    ids, dls, block = p
    docs_bin, dl_bin, last, _min_dl, doff, loff = encode_postings(
        ids, dls, block=block
    )
    n_blocks = len(last)
    keep = data.draw(
        st.sets(
            st.integers(min_value=0, max_value=n_blocks - 1),
            min_size=1,
            max_size=n_blocks,
        )
    )
    got_ids, got_dls = decode_blocks(docs_bin, dl_bin, last, doff, loff, keep)
    exp_ids, exp_dls = [], []
    for i in sorted(keep):
        s, e = i * block, min((i + 1) * block, len(ids))
        exp_ids.extend(ids[s:e].tolist())
        exp_dls.extend(dls[s:e].tolist())
    assert got_ids.tolist() == exp_ids
    assert got_dls.tolist() == exp_dls


@given(_postings())
@settings(max_examples=50, deadline=None)
def test_decode_blocks_keep_all_equals_decode_postings(p):
    ids, dls, block = p
    docs_bin, dl_bin, last, _min_dl, doff, loff = encode_postings(
        ids, dls, block=block
    )
    got_ids, got_dls = decode_blocks(
        docs_bin, dl_bin, last, doff, loff, list(range(len(last)))
    )
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()


class TestXXH64Vec:
    def test_vec_matches_scalar_all_lengths(self):
        import random

        import numpy as np

        from probe_spark.index.xxhash import xxh64_signed, xxh64_vec

        rng = random.Random(11)
        vals = [
            bytes(rng.randrange(256) for _ in range(n))
            for n in list(range(0, 40)) + [63, 64, 100]
            for _ in range(5)
        ]
        vec = xxh64_vec(vals)
        assert vec.dtype == np.int64
        for i, v in enumerate(vals):
            assert int(vec[i]) == xxh64_signed(v)

    def test_bucket_vec_matches_scalar(self):
        from probe_spark.index.xxhash import spark_bucket, spark_buckets_vec

        terms = ["error", "handl", "", "ветка", "a" * 40, "hash", "15"]
        got = spark_buckets_vec(terms, 32)
        for t, b in zip(terms, got):
            assert spark_bucket(t, 32) == int(b)


# -- splice merge (byte-level chunk concatenation) ---------------------------


@st.composite
def _chunked_postings(draw):
    """Global sorted postings split into disjoint ascending chunks at
    arbitrary boundaries — the level-0 partials shape the splice merge
    consumes."""
    n = draw(st.integers(min_value=2, max_value=800))
    gaps = draw(
        st.lists(
            st.integers(min_value=0, max_value=50_000), min_size=n, max_size=n
        )
    )
    ids = np.cumsum(np.asarray(gaps, dtype=np.int64) + 1)
    dls = np.asarray(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=5_000),
                min_size=n,
                max_size=n,
            )
        ),
        dtype=np.int64,
    )
    n_cuts = draw(st.integers(min_value=0, max_value=min(6, n - 1)))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=n - 1),
                min_size=n_cuts,
                max_size=n_cuts,
                unique=True,
            )
        )
    )
    block = draw(st.sampled_from([4, 16, 128]))
    return ids, dls, cuts, block


def _encode_chunk(ids, dls, block):
    from probe_spark.index.codec import EncodedChunk

    docs_bin, dl_bin, bl, bm, bdo, blo = encode_postings(
        ids, dls, block=block
    )
    return EncodedChunk(
        len(ids), int(ids[0]), int(ids[-1]), docs_bin, dl_bin, bl, bm,
        bdo, blo,
    )


@given(_chunked_postings())
@settings(max_examples=150, deadline=None)
def test_splice_chunks_equals_full_encode_decode(p):
    from probe_spark.index.codec import splice_chunks

    ids, dls, cuts, block = p
    bounds = [0] + cuts + [len(ids)]
    chunks = [
        _encode_chunk(ids[s:e], dls[s:e], block)
        for s, e in zip(bounds, bounds[1:])
    ]
    m = splice_chunks(chunks)
    got_ids, got_dls = decode_postings(m.docs, m.dls)
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()
    assert m.df == len(ids)
    assert m.min_doc == ids[0] and m.max_doc == ids[-1]
    # block metadata stays decode-consistent: every keep subset of the
    # spliced segment matches slicing the plain decode
    n_blocks = len(m.block_last)
    keep = list(range(0, n_blocks, 2))
    kids, kdls = decode_blocks(
        m.docs, m.dls, m.block_last, m.block_doc_off, m.block_dl_off, keep
    )
    # reference: per-block extents from offsets
    starts = np.searchsorted(got_ids, np.concatenate(([ids[0]], m.block_last[:-1] + 1)))
    ends = np.searchsorted(got_ids, m.block_last, side="right")
    want_ids = np.concatenate([got_ids[starts[i]:ends[i]] for i in keep])
    want_dls = np.concatenate([got_dls[starts[i]:ends[i]] for i in keep])
    assert kids.tolist() == want_ids.tolist()
    assert kdls.tolist() == want_dls.tolist()
    # per-block min_dl is exact
    for i in range(n_blocks):
        assert m.block_min_dl[i] == got_dls[starts[i]:ends[i]].min()


@given(_chunked_postings(), st.integers(min_value=1, max_value=12))
@settings(max_examples=150, deadline=None)
def test_split_then_splice_roundtrip(p, blocks_per_piece):
    from probe_spark.index.codec import split_encoded_chunk, splice_chunks

    ids, dls, _cuts, block = p
    c = _encode_chunk(ids, dls, block)
    max_seg = blocks_per_piece * block
    pieces = split_encoded_chunk(c, max_seg, block)
    assert sum(x.df for x in pieces) == len(ids)
    for x in pieces:
        assert x.df <= max(max_seg, block)
        got_ids, got_dls = decode_postings(bytes(x.docs), bytes(x.dls))
        assert got_ids[0] == x.min_doc and got_ids[-1] == x.max_doc
        assert len(got_ids) == x.df
    m = splice_chunks(pieces)
    got_ids, got_dls = decode_postings(m.docs, m.dls)
    assert got_ids.tolist() == ids.tolist()
    assert got_dls.tolist() == dls.tolist()


class TestChunkedFlushEquivalence:
    """_PartialAcc._flush_chunked must produce batches whose rows decode
    identically to _flush_block on the same postings (same terms, dfs,
    min/max, decoded ids/dls, block metadata semantics)."""

    def _mk_acc(self, sort_chunk):
        from probe_spark.index.build import _PartialAcc

        out = []
        acc = _PartialAcc(1 << 30, lambda b, buckets=None: out.append(b), 8)
        acc.SORT_CHUNK = sort_chunk
        return acc, out

    def _feed(self, acc, n_docs=4000, vocab=700, seed=3):
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng(seed)
        words = [f"w{i}" for i in range(vocab)]
        toks = [
            sorted({words[j] for j in rng.integers(0, vocab, 30)})
            for _ in range(n_docs)
        ]
        ids = np.arange(100, 100 + n_docs, dtype=np.int64)
        dls = np.array([len(t) for t in toks], dtype=np.int32)
        arr = pa.array(toks, pa.list_(pa.string()))
        acc.add(ids, dls, [("tok", arr)])
        acc._emit()

    def _canon(self, batches):
        from probe_spark.index.codec import decode_postings

        rows = {}
        for b in batches:
            for r in b.to_pylist():
                ids, dls = decode_postings(r["docs_bin"], r["dl_bin"])
                key = (r["kind"], r["term"])
                assert key not in rows, "duplicate term row in one flush"
                rows[key] = (
                    r["df_part"], r["min_doc"], r["max_doc"],
                    ids.tolist(), dls.tolist(),
                    r["block_last"], r["block_min_dl"],
                )
        return rows

    def test_chunked_equals_block(self):
        # chunked path: tiny SORT_CHUNK forces many units
        acc_c, out_c = self._mk_acc(sort_chunk=1 << 10)
        self._feed(acc_c)
        # block path: huge SORT_CHUNK keeps the single-block branch
        acc_b, out_b = self._mk_acc(sort_chunk=1 << 30)
        self._feed(acc_b)
        rows_c, rows_b = self._canon(out_c), self._canon(out_b)
        assert rows_c.keys() == rows_b.keys()
        for k in rows_b:
            # ids/dls/df/min/max must match exactly; block boundaries may
            # differ (units close blocks early), but block_last must be a
            # subsequence-compatible cover: same first/last and min_dl
            # consistent per covered range — compare the decode-relevant
            # invariants
            cb, bb = rows_c[k], rows_b[k]
            assert cb[0] == bb[0] and cb[1] == bb[1] and cb[2] == bb[2], k
            assert cb[3] == bb[3] and cb[4] == bb[4], k
            assert cb[5][-1] == bb[5][-1], k

    def test_chunked_block_subset_decode(self):
        """Block metadata from the chunked flush must satisfy
        decode_blocks' contract (the doc-range path's decoder): decoding
        any subset of blocks via the byte offsets yields exactly those
        blocks' postings."""
        import numpy as np

        from probe_spark.index.codec import decode_blocks, decode_postings

        acc_c, out_c = self._mk_acc(sort_chunk=1 << 10)
        self._feed(acc_c, n_docs=3000, vocab=40, seed=5)
        for b in out_c:
            for r in b.to_pylist():
                ids, dls = decode_postings(r["docs_bin"], r["dl_bin"])
                offs = r["block_doc_off"]
                loffs = r["block_dl_off"]
                lasts = r["block_last"]
                nb = len(lasts)
                rng = np.random.default_rng(7)
                keep = sorted(
                    set(rng.integers(0, nb, max(1, nb // 2)).tolist())
                )
                got_ids, got_dls = decode_blocks(
                    r["docs_bin"], r["dl_bin"],
                    np.asarray(lasts, np.int64),
                    np.asarray(offs, np.int64),
                    np.asarray(loffs, np.int64),
                    np.asarray(keep, np.int64),
                )
                # reference: per-block slices of the full decode
                bl = [0] + [
                    int(np.searchsorted(ids, lasts[i], side="right"))
                    for i in range(nb)
                ]
                want_ids = np.concatenate(
                    [ids[bl[i]:bl[i + 1]] for i in keep]
                )
                want_dls = np.concatenate(
                    [dls[bl[i]:bl[i + 1]] for i in keep]
                )
                assert got_ids.tolist() == want_ids.tolist()
                assert got_dls.tolist() == want_dls.tolist()


@given(_postings(), st.integers(min_value=1, max_value=10**11))
@settings(max_examples=150, deadline=None)
def test_leading_varint_shift_offsets_whole_segment(p, off):
    """The shard merge's core byte operation (maintenance.merge_many):
    rewriting ONLY the leading varint of an encoded segment by +off must
    shift every decoded doc id by exactly off, with block doc offsets
    adjusted by the varint length delta and all later blocks decoding
    unchanged."""
    from probe_spark.index.codec import (
        decode_blocks,
        decode_postings,
        varint_encode_one,
        varint_read_first,
    )

    ids, dls, block = p
    docs_bin, dl_bin, bl, bm, bdo, blo = encode_postings(
        ids, dls, block=block
    )
    mv = memoryview(docs_bin)
    first, flen = varint_read_first(mv)
    assert first == ids[0]
    enc = varint_encode_one(first + off)
    shifted = bytes(enc) + bytes(mv[flen:])
    delta = len(enc) - flen
    new_bdo = np.asarray([o + delta if o else 0 for o in bdo], np.int64)

    got_ids, got_dls = decode_postings(shifted, dl_bin)
    np.testing.assert_array_equal(got_ids, ids + off)
    np.testing.assert_array_equal(got_dls, dls)

    # per-block decode (the doc-range path) over the shifted stream: every
    # block subset must reproduce its shifted ids
    nb = len(bl)
    keep = list(range(nb))
    out_ids, out_dls = decode_blocks(
        shifted, dl_bin, np.asarray(bl, np.int64) + off, new_bdo, blo, keep
    )
    np.testing.assert_array_equal(out_ids, ids + off)
    np.testing.assert_array_equal(out_dls, dls)
