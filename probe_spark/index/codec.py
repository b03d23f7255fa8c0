"""Delta + varint posting-list codec, numpy-vectorized.

Postings are stored as LEB128-style varints over doc-id deltas (sorted doc
ids -> first id + gaps) plus a parallel varint stream of per-doc lengths
(dl).  Runs inside Arrow-batched UDFs — no per-row Python.

The reference has no persistent index (its postings are per-query in-memory
maps, search_runner.rs:1581); the layout here follows the standard
inverted-index literature (north_rule: "posting-list construction, merge,
compression").
"""

from __future__ import annotations

import numpy as np

_MASK = np.uint64(0x7F)
_CONT = np.uint64(0x80)

# byte count per value = searchsorted(_VARINT_THRESH, v, 'right') + 1:
# v < 2^7 -> 1 byte, < 2^14 -> 2, ... (ceil(bit_length/7), min 1)
_VARINT_THRESH = (np.uint64(1) << (np.uint64(7) * np.arange(1, 10, dtype=np.uint64)))


def _varint_encode_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64 array as concatenated LEB128 varints (vectorized).
    Returns (bytes, per-value byte start offsets, length len(values)+1 with
    the total at the end).

    Two structural fast paths (the build's flush is dominated by this
    function, and posting gaps / doc lengths are overwhelmingly 1-byte):
    byte counts come from ONE searchsorted pass instead of a shift loop,
    and the continuation-byte loop runs only over the (typically small)
    subset of multi-byte values instead of masking the full array."""
    n = len(values)
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    v = values if values.dtype == np.uint64 else values.astype(np.uint64)
    nbytes = np.searchsorted(_VARINT_THRESH, v, side="right")
    nbytes += 1
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(nbytes, out=offsets[1:])
    total = int(offsets[-1])
    if total == n:  # every value < 128: the byte stream IS the values
        return v.astype(np.uint8).tobytes(), offsets
    out = np.empty(total, dtype=np.uint8)
    # first byte of every value, continuation bit where more bytes follow
    more = nbytes > 1
    first = v.astype(np.uint8)
    np.bitwise_and(first, 0x7F, out=first)
    first |= more.astype(np.uint8) << 7
    out[offsets[:-1]] = first
    # remaining bytes: iterate byte positions over the multi-byte subset only
    multi = np.flatnonzero(more)
    sv = v[multi] >> np.uint64(7)
    off = offsets[multi] + 1
    nb = nbytes[multi] - 1  # continuation bytes still to write
    for b in range(int(nb.max())):
        if b:
            live = nb > b
            sv = sv[live] >> np.uint64(7)
            off = off[live] + 1
            nb = nb[live]
        byte = sv.astype(np.uint8)
        np.bitwise_and(byte, 0x7F, out=byte)
        byte |= (nb > (b + 1)).astype(np.uint8) << 7
        out[off] = byte
    return out.tobytes(), offsets


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array as concatenated LEB128 varints (vectorized)."""
    return _varint_encode_offsets(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode concatenated LEB128 varints into a uint64 array (vectorized)."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    if not (raw & 0x80).any():
        # hot-term fast path: dense postings have tiny doc gaps and small
        # dls, so whole segments are often ALL single-byte varints — the
        # values are the bytes themselves (one pass instead of six memory
        # sweeps; the decode is memory-bandwidth-bound at query time)
        return raw.astype(np.uint64)
    is_end = (raw & 0x80) == 0
    # value id of each byte: 0-based index of the varint it belongs to
    ends = np.flatnonzero(is_end)
    n = len(ends)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos_in_value = np.arange(len(raw), dtype=np.int64) - np.repeat(
        starts, ends - starts + 1
    )
    contrib = (raw & 0x7F).astype(np.uint64) << (
        pos_in_value.astype(np.uint64) * np.uint64(7)
    )
    return np.add.reduceat(contrib, starts)


def encode_postings(doc_ids: np.ndarray, dls: np.ndarray, block: int = 128):
    """Pack sorted doc ids + doc lengths into
    (docs_bin, dl_bin, block_last, block_min_dl, block_doc_off, block_dl_off).

    The per-block last doc ids and byte offsets let a query decode ONLY
    the blocks it needs — the doc-range path decodes the blocks that
    overlap its range (each block's delta stream is self-contained given
    the previous block's last doc id — the first gap of block 0 is the
    absolute id, so base 0 works uniformly).  block_min_dl is part of the
    on-disk format and checked by verify; no query reads it.
    """
    order = np.argsort(doc_ids, kind="stable")
    d = doc_ids[order].astype(np.int64)
    l = dls[order].astype(np.int64)
    gaps = np.empty(len(d), dtype=np.uint64)
    gaps[0] = d[0]
    np.subtract(d[1:], d[:-1], out=gaps[1:], casting="unsafe")
    docs_bin, doc_offs = _varint_encode_offsets(gaps)
    dl_bin, dl_offs = _varint_encode_offsets(l.astype(np.uint64))
    n = len(d)
    n_blocks = (n + block - 1) // block
    starts = np.arange(n_blocks, dtype=np.int64) * block
    ends = np.minimum(starts + block, n)
    block_last = d[ends - 1]
    block_min_dl = np.minimum.reduceat(l, starts).astype(np.int32)
    block_doc_off = doc_offs[starts]
    block_dl_off = dl_offs[starts]
    return docs_bin, dl_bin, block_last, block_min_dl, block_doc_off, block_dl_off


def decode_blocks(
    docs_bin: bytes,
    dl_bin: bytes,
    block_last: "list[int] | np.ndarray",
    block_doc_off: "list[int] | np.ndarray",
    block_dl_off: "list[int] | np.ndarray",
    keep: "list[int] | np.ndarray",
):
    """Decode only the selected block indices of a segment.

    Deltas within block i resolve against base = block_last[i-1] (block 0's
    first gap is the absolute doc id, base 0).  Returns (doc_ids, dls)
    concatenated over ``keep`` in ascending block order.
    """
    keep = np.asarray(sorted(keep), dtype=np.int64)
    if len(keep) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    doc_off = np.asarray(block_doc_off, dtype=np.int64)
    dl_off = np.asarray(block_dl_off, dtype=np.int64)
    last = np.asarray(block_last, dtype=np.int64)
    n_blocks = len(last)
    # Consecutive kept blocks share one continuous delta stream (gaps never
    # reset at block boundaries), so a run [s, e) decodes with ONE
    # varint_decode over the whole byte range — when pruning keeps most
    # blocks (single-term queries with narrow dl spread), this turns
    # thousands of tiny decode calls into a handful of big vectorized ones.
    runs: list[tuple[int, int]] = []
    s = int(keep[0])
    prev = s
    for i in keep[1:]:
        i = int(i)
        if i == prev + 1:
            prev = i
            continue
        runs.append((s, prev + 1))
        s = prev = i
    runs.append((s, prev + 1))
    ids_parts = []
    dl_parts = []
    for s, e in runs:
        d_end = doc_off[e] if e < n_blocks else len(docs_bin)
        l_end = dl_off[e] if e < n_blocks else len(dl_bin)
        buf = docs_bin[doc_off[s] : d_end]
        if s == 0 and len(buf):
            # block 0's leading varint is the ABSOLUTE first doc id
            # (multi-byte for any non-tiny corpus) — peel it off so the
            # remaining gaps, which are tiny for dense terms, can take
            # varint_decode's all-single-byte fast path
            first, nb = varint_read_first(buf)
            rest = varint_decode(buf[nb:])
            gaps = np.empty(len(rest) + 1, dtype=np.uint64)
            gaps[0] = first
            gaps[1:] = rest
        else:
            gaps = varint_decode(buf)
        base = last[s - 1] if s > 0 else 0
        ids_parts.append(np.cumsum(gaps.astype(np.int64)) + base)
        dl_parts.append(
            varint_decode(dl_bin[dl_off[s] : l_end]).astype(np.int64)
        )
    return np.concatenate(ids_parts), np.concatenate(dl_parts)


def varint_read_first(buf) -> tuple[int, int]:
    """Parse the leading LEB128 varint of ``buf`` -> (value, byte length)."""
    v = 0
    shift = 0
    i = 0
    while True:
        b = buf[i]
        v |= (b & 0x7F) << shift
        i += 1
        if not (b & 0x80):
            return v, i
        shift += 7


def varint_encode_one(v: int) -> bytes:
    """Encode one non-negative int as a LEB128 varint."""
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


class EncodedChunk:
    """One already-encoded posting run of a single term: varint gap stream
    whose FIRST varint is the ABSOLUTE first doc id, a parallel raw-varint
    dl stream, and per-block metadata (exactly what ``encode_postings``
    emits).  The merge composes these by byte splicing — see
    ``split_encoded_chunk`` / ``splice_chunks``."""

    __slots__ = (
        "df", "min_doc", "max_doc", "docs", "dls",
        "block_last", "block_min_dl", "block_doc_off", "block_dl_off",
    )

    def __init__(
        self, df, min_doc, max_doc, docs, dls,
        block_last, block_min_dl, block_doc_off, block_dl_off,
    ):
        self.df = int(df)
        self.min_doc = int(min_doc)
        self.max_doc = int(max_doc)
        self.docs = docs  # bytes-like (memoryview ok)
        self.dls = dls
        self.block_last = np.asarray(block_last, dtype=np.int64)
        self.block_min_dl = np.asarray(block_min_dl, dtype=np.int32)
        self.block_doc_off = np.asarray(block_doc_off, dtype=np.int64)
        self.block_dl_off = np.asarray(block_dl_off, dtype=np.int64)


def split_encoded_chunk(
    c: EncodedChunk, max_seg: int, block: int
) -> list[EncodedChunk]:
    """Split an oversized chunk into <= max_seg pieces at BLOCK boundaries
    without decoding postings: a block's delta stream is self-contained
    given the previous block's last doc (encode_postings invariant), so a
    piece starting at block s only needs its first varint rewritten from
    gap-relative-to-block_last[s-1] to the absolute doc id.  Chunks carry
    uniform ``block``-sized blocks except the tail (the _flush layout), so
    piece sizes are exact from arithmetic."""
    if c.df <= max_seg:
        return [c]
    nb = len(c.block_last)
    per = max(1, max_seg // block)  # whole blocks per piece
    docs = memoryview(c.docs)
    dls = memoryview(c.dls)
    out: list[EncodedChunk] = []
    for s in range(0, nb, per):
        e = min(s + per, nb)
        d_lo = int(c.block_doc_off[s])
        d_hi = int(c.block_doc_off[e]) if e < nb else len(docs)
        l_lo = int(c.block_dl_off[s])
        l_hi = int(c.block_dl_off[e]) if e < nb else len(dls)
        piece_docs = docs[d_lo:d_hi]
        doc_off = c.block_doc_off[s:e] - d_lo
        if s == 0:
            first_doc = c.min_doc
            body = piece_docs
        else:
            gap, flen = varint_read_first(piece_docs)
            first_doc = int(c.block_last[s - 1]) + gap
            enc = varint_encode_one(first_doc)
            body = bytes(enc) + bytes(piece_docs[flen:])
            delta = len(enc) - flen
            doc_off = doc_off.copy()
            doc_off[1:] += delta
        df = (e - s - 1) * block + (
            c.df - (nb - 1) * block if e == nb else block
        )
        out.append(
            EncodedChunk(
                df, first_doc, int(c.block_last[e - 1]), body,
                dls[l_lo:l_hi], c.block_last[s:e], c.block_min_dl[s:e],
                doc_off, c.block_dl_off[s:e] - l_lo,
            )
        )
    return out


def splice_chunks(chunks: list[EncodedChunk]) -> EncodedChunk:
    """Merge doc-range-DISJOINT, min_doc-ascending chunks of one term into
    a single segment by byte concatenation: only each non-first chunk's
    leading varint is rewritten (absolute doc id -> gap from the previous
    chunk's last doc).  Postings move once as encoded bytes — no decode,
    no sort, no int64 inflation (the merge phase's former memory-bandwidth
    wall).  The result satisfies every ``encode_postings`` invariant
    except uniform block sizes, which no consumer assumes (decode_blocks
    resolves offsets from per-block last_doc)."""
    if len(chunks) == 1:
        c = chunks[0]
        return EncodedChunk(
            c.df, c.min_doc, c.max_doc, bytes(c.docs), bytes(c.dls),
            c.block_last, c.block_min_dl, c.block_doc_off, c.block_dl_off,
        )
    docs = bytearray()
    dls = bytearray()
    bl: list[np.ndarray] = []
    bm: list[np.ndarray] = []
    bdo: list[np.ndarray] = []
    blo: list[np.ndarray] = []
    df = 0
    prev_last = None
    for c in chunks:
        if prev_last is None:
            doc_base = 0
            docs += c.docs
        else:
            mv = memoryview(c.docs)
            old, flen = varint_read_first(mv)
            enc = varint_encode_one(c.min_doc - prev_last)
            doc_base = len(docs)
            docs += enc
            docs += mv[flen:]
            delta = len(enc) - flen
        off = c.block_doc_off.copy() if prev_last is not None else c.block_doc_off
        if prev_last is not None:
            off[1:] += delta
        bdo.append(off + doc_base)
        blo.append(c.block_dl_off + len(dls))
        dls += c.dls
        bl.append(c.block_last)
        bm.append(c.block_min_dl)
        df += c.df
        prev_last = c.max_doc
    return EncodedChunk(
        df, chunks[0].min_doc, chunks[-1].max_doc, bytes(docs), bytes(dls),
        np.concatenate(bl), np.concatenate(bm),
        np.concatenate(bdo), np.concatenate(blo),
    )


def decode_postings(docs_bin: bytes, dl_bin: bytes):
    """Inverse of encode_postings: (doc_ids int64, dls int64)."""
    gaps = varint_decode(docs_bin)
    doc_ids = np.cumsum(gaps.astype(np.int64))
    dls = varint_decode(dl_bin).astype(np.int64)
    return doc_ids, dls


def raw_doc_ids(
    index_path: str,
    n_buckets: int,
    terms: list[str],
    max_df: int = 5_000_000,
) -> "np.ndarray | None":
    """Driver-side decode of the raw-word posting lists for ``terms``:
    sorted unique doc_ids, or None when the caller must use the
    distributed path instead (index not POSIX-visible, or the lists
    exceed ``max_df`` — at 10^12-doc scale an excluded hot word's raw
    postings don't fit on the driver).

    A term's raw postings are a few KB-MB of varint bytes in one bucket
    directory; reading them with pyarrow costs milliseconds, versus
    ~1.5s of job scheduling + Python-worker overhead for the equivalent
    two-task Spark job.  Row-group pruning on the term column mirrors
    the pruning the Spark plan gets from the bucket+term filter.
    """
    import os

    index_path = index_path.removeprefix("file://")
    base = os.path.join(index_path, "postings", "kind=raw")
    if not os.path.isdir(base):
        return None
    import pyarrow.dataset as ds

    from probe_spark.index.xxhash import spark_bucket

    buckets: dict[int, list[str]] = {}
    for t in terms:
        buckets.setdefault(spark_bucket(t, n_buckets), []).append(t)
    parts: list[np.ndarray] = []
    total = 0
    for bucket, bterms in sorted(buckets.items()):
        d = os.path.join(base, f"bucket={bucket}")
        if not os.path.isdir(d):
            continue
        files = [
            os.path.join(d, fn)
            for fn in sorted(os.listdir(d))
            if fn.endswith(".parquet")
        ]
        if not files:
            continue
        dataset = ds.dataset(files, format="parquet")
        # cheap cardinality gate before decoding any bytes
        meta = dataset.to_table(
            columns=["df_seg"], filter=ds.field("term").isin(bterms)
        )
        total += sum(meta["df_seg"].to_pylist())
        if total > max_df:
            return None
        table = dataset.to_table(
            columns=["docs_bin"], filter=ds.field("term").isin(bterms)
        )
        for buf in table["docs_bin"].to_pylist():
            ids, _ = decode_postings(buf, b"")
            parts.append(ids)
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def local_tok_segments(
    index_path: str,
    n_buckets: int,
    terms: list[str],
    columns: list[str],
):
    """Driver-side pyarrow read of token-postings segment rows for
    ``terms`` — the metadata plane of a POSIX-visible index.

    Same rationale as :func:`raw_doc_ids`: a query's per-term metadata
    (df_seg, block maxima, segment addresses) is KB-MB of columnar data
    inside the term's single hash-bucket directory; reading it with
    pyarrow costs milliseconds where the equivalent two-task Spark
    collect pays ~0.3s of job scheduling — per COLD query.  The engine
    falls back to the Spark collect when this returns None (index not
    POSIX-visible), so the distributed path remains the at-scale shape
    for object stores.

    Returns a list of pyarrow-backed dict rows (name-indexable like Spark
    Rows), or None.
    """
    import os

    index_path = index_path.removeprefix("file://")
    base = os.path.join(index_path, "postings", "kind=tok")
    if not os.path.isdir(base):
        return None
    import pyarrow.dataset as ds

    from probe_spark.index.xxhash import spark_bucket

    buckets: dict[int, list[str]] = {}
    for t in terms:
        buckets.setdefault(spark_bucket(t, n_buckets), []).append(t)
    rows: list[dict] = []
    for bucket, bterms in sorted(buckets.items()):
        d = os.path.join(base, f"bucket={bucket}")
        if not os.path.isdir(d):
            continue
        files = [
            os.path.join(d, fn)
            for fn in sorted(os.listdir(d))
            if fn.endswith(".parquet")
        ]
        if not files:
            continue
        table = ds.dataset(files, format="parquet").to_table(
            columns=columns, filter=ds.field("term").isin(bterms)
        )
        rows.extend(table.to_pylist())
    return rows
