"""Pruned top-k: codec block slicing and exactness of the pruned top-k
against the full path on the live engine (SURVEY.md §2.6: rank-identity
validated against naive full scoring).

The module keeps its name from the block-max WAND route; pure-OR top-k
queries (single terms included) now take the doc-range path, which reads
the same per-block codec metadata."""

from __future__ import annotations

import numpy as np
import pytest

from probe_spark.index.codec import decode_blocks, decode_postings, encode_postings


class TestCodecBlocks:
    def test_block_decode_matches_full(self):
        rng = np.random.default_rng(7)
        ids = np.sort(rng.choice(100_000, size=1000, replace=False))
        dls = rng.integers(1, 300, size=1000)
        docs_bin, dl_bin, last, min_dl, doff, loff = encode_postings(
            ids, dls, block=64
        )
        full_ids, full_dls = decode_postings(docs_bin, dl_bin)
        assert np.array_equal(full_ids, ids)
        assert np.array_equal(full_dls, dls)
        n_blocks = len(last)
        all_ids, all_dls = decode_blocks(
            docs_bin, dl_bin, last, doff, loff, list(range(n_blocks))
        )
        assert np.array_equal(all_ids, ids)
        assert np.array_equal(all_dls, dls)
        # arbitrary subset decodes exactly its blocks
        keep = [0, 3, n_blocks - 1]
        sub_ids, sub_dls = decode_blocks(docs_bin, dl_bin, last, doff, loff, keep)
        expect = np.concatenate([ids[i * 64 : (i + 1) * 64] for i in keep])
        expect_dl = np.concatenate([dls[i * 64 : (i + 1) * 64] for i in keep])
        assert np.array_equal(sub_ids, expect)
        assert np.array_equal(sub_dls, expect_dl)

    def test_block_metadata(self):
        ids = np.arange(0, 300, dtype=np.int64)
        dls = np.concatenate(
            [np.full(128, 50), np.full(128, 10), np.full(44, 99)]
        )
        _, _, last, min_dl, doff, loff = encode_postings(ids, dls, block=128)
        assert last.tolist() == [127, 255, 299]
        assert min_dl.tolist() == [50, 10, 99]
        assert doff[0] == 0 and loff[0] == 0


@pytest.mark.usefixtures("spark")
class TestPrunedExactness:
    """Pure-OR top-k (single terms included) on an index whose terms span
    many blocks and segments: the doc-range path must return the same
    ids in the same order with bit-identical scores as the full groupBy
    path (prune=False)."""

    @pytest.fixture(scope="class")
    def engine(self, spark, tmp_path_factory):
        from probe_spark.fixtures import transcripts_df
        from probe_spark.index.build import BuildConfig, IndexBuilder
        from probe_spark.search.engine import SearchEngine

        path = str(tmp_path_factory.mktemp("pruned") / "idx")
        df = transcripts_df(spark, 300, 7)
        # small blocks + small segments force multi-block, multi-segment terms
        cfg = BuildConfig(
            n_buckets=4, max_postings_per_segment=256, block_size=32
        )
        IndexBuilder(spark, cfg).build(df, path)
        return SearchEngine(spark, path)

    @pytest.mark.parametrize(
        "q,k",
        [
            ("error", 10),
            ("error", 25),
            ("data", 5),
            ("login OR authentication OR auth", 10),
            ("cache OR queue OR worker", 15),
            ("running", 10),
            ("nonexistentzzz", 10),
        ],
    )
    def test_rank_identical_to_full(self, engine, q, k):
        pruned = [
            (r["doc_id"], r["score"])
            for r in engine.search(q, k=k, with_metadata=False).collect()
        ]
        full = [
            (r["doc_id"], r["score"])
            for r in engine.search(
                q, k=k, with_metadata=False, prune=False
            ).collect()
        ]
        assert pruned == full

    def test_ineligible_queries_fall_back(self, engine):
        # AND query: not a pure disjunction; both paths must agree
        a = [
            r["doc_id"]
            for r in engine.search(
                "error AND handling", k=10, with_metadata=False
            ).collect()
        ]
        b = [
            r["doc_id"]
            for r in engine.search(
                "error AND handling", k=10, with_metadata=False, prune=False
            ).collect()
        ]
        assert a == b
