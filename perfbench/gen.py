"""Seeded corpus and query-mix generator for the benchmark.

Everything here is a pure function of the seed, so two runs with one seed
see the same turns and the same queries.  Choices, and why:

* Vocabulary: the fixture's tokenizer pools (plain words, camelCase
  identifiers, compounds, exception terms, stemming families, hot terms)
  plus unicode snippets, mixed with a synthetic vocabulary of
  ``SYNTH_WORDS`` syllable words drawn by a Zipf law.  The fixture alone has
  ~150 distinct terms, which fits inside every LocalSearcher cache (512
  postings entries); the synthetic tail makes cache misses and postings
  decode happen on the serving path.
* Turn length: skewed by role.  User and system turns are short chat,
  assistant turns are medium, tool turns carry long lognormal outputs, as
  agent transcripts do; document length then varies enough for BM25's
  length normalisation and for skewed build tasks.
* Query mix: the eight shapes below, in the shares they have among the
  repository's reference queries (``fixtures.REFERENCE_QUERIES``, classified
  by ``shape_of``), plus one to each shape so that every shape runs (the
  reference has no ``absent`` query).  Terms are drawn from the same Zipf
  law so a few hot terms repeat (cache hits) over a long cold tail
  (misses).  The ``or`` shape includes the right-nested ``a OR (b OR c)``
  and ``and`` includes ``(a OR b) AND c``; ``absent`` includes
  ``absent OR -common``.
  Those shapes hit known engine defects and are kept on purpose.
* Special terms (quoted or excluded): in the timed mixes they come from
  the synthetic words only, which are atomic (the tokenizer keeps them
  whole).  A word the tokenizer splits, such as the fixture's ``password``,
  as a special term sends the query down the raw-word repair path, which
  re-tokenizes every doc holding the word: 2-5 s per distinct query on a
  33-50k-turn corpus, cached per query afterwards.  A few such first-time
  queries would fill a serving window of seconds and make its figures
  depend on how many a seed happens to draw.  The oracle check's mix (``all_specials=True``)
  keeps them, so both lanes' repair path is checked on every
  ``write_query`` run.
* k is drawn from {10, 25, 50} in the reference queries' shares (each
  reference k rounded up into the set), again plus one to each value.
* Unverified: the Zipf exponent (about 1, as for word frequencies in
  natural language), the fixture-word share and the per-role turn
  lengths are chosen, not measured on real transcripts.
* Markers: one unique term per micro-batch, planted in a few turns of that
  batch, so a query after ``refresh()`` shows whether the batch is visible.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa

from probe_spark.fixtures import REFERENCE_QUERIES, TRANSCRIPT_SCHEMA, VOCAB_POOLS

SHAPES = (
    "term", "or", "and", "required", "excluded", "exact", "only_excluded",
    "absent",
)
K_VALUES = (10, 25, 50)
SYNTH_WORDS = 20_000
ZIPF_S = 1.07
MARKER_TURNS = 3

_ROLES = ("user", "assistant", "tool", "assistant", "system")
_TOOLS = ("", "search", "bash", "editor", "browser")
_UNICODE = ("naïve café résumé", "日本語テキスト処理", "Привет мир", "emoji 🚀 test")
# mean words per turn by role (lognormal around these), tool output longest
_ROLE_WORDS = {"user": 8, "system": 10, "assistant": 24, "tool": 64}
_FIXTURE_WORDS = tuple(w for pool in VOCAB_POOLS for w in pool)
_FIXTURE_SHARE = 0.45
_CONS = "bdfgklmnprstv"


def shape_of(q: str) -> str:
    """The shape of a query string, by the rules the generator's shapes
    follow."""
    words = [
        w for w in q.replace("(", " ").replace(")", " ").split()
        if w not in ("AND", "OR")
    ]
    if all(w.startswith("-") for w in words):
        return "only_excluded"
    if '"' in q:
        return "exact"
    if any(w.startswith("-") for w in words):
        return "excluded"
    if any(w.startswith("+") for w in words):
        return "required"
    if " AND " in q:
        return "and"
    return "or" if len(words) > 1 else "term"


def _shares(counts: Counter, keys) -> np.ndarray:
    c = np.array([counts[key] + 1 for key in keys], dtype=np.float64)
    return c / c.sum()


SHAPE_SHARES = _shares(Counter(shape_of(q) for _i, q, _k in REFERENCE_QUERIES), SHAPES)
K_SHARES = _shares(
    Counter(
        min((v for v in K_VALUES if v >= k), default=K_VALUES[-1])
        for _i, _q, k in REFERENCE_QUERIES
    ),
    K_VALUES,
)
_VOWELS = "aeiou"


def _letters(n: int, alphabet: str = "hjwx") -> str:
    """n in base len(alphabet); letters outside the synthetic syllables."""
    out = alphabet[n % len(alphabet)]
    n //= len(alphabet)
    while n:
        out += alphabet[n % len(alphabet)]
        n //= len(alphabet)
    return out


def marker(seed: int, batch: int) -> str:
    """The term planted in micro-batch ``batch``; occurs nowhere else."""
    return f"qz{_letters(seed)}y{_letters(batch)}"


class Vocab:
    """Synthetic words in Zipf rank order plus the fixture pool words."""

    def __init__(self, seed: int):
        from probe_spark.functions.tokenizer import tokenize

        rng = np.random.default_rng([seed, 1])
        syll = [c + v for c in _CONS for v in _VOWELS]
        words: dict[str, None] = {}
        while len(words) < SYNTH_WORDS:
            lens = rng.integers(2, 5, size=SYNTH_WORDS)
            parts = rng.integers(0, len(syll), size=(SYNTH_WORDS, 4)).tolist()
            for row, n in zip(parts, lens.tolist()):
                w = "".join([syll[j] for j in row[:n]])
                # atomic: the tokenizer keeps it whole and unstemmed, so as
                # a special term it never needs the raw-word repair path
                if w not in words and tokenize(w) == [w]:
                    words[w] = None
                    if len(words) == SYNTH_WORDS:
                        break
        self.synth = np.array(list(words), dtype=object)
        ranks = np.arange(1, SYNTH_WORDS + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.fixture = np.array(_FIXTURE_WORDS, dtype=object)

    def zipf(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.synth[np.minimum(idx, SYNTH_WORDS - 1)]

    def words(self, rng: np.random.Generator, n: int) -> np.ndarray:
        out = self.zipf(rng, n)
        fix = rng.random(n) < _FIXTURE_SHARE
        out[fix] = self.fixture[rng.integers(0, len(self.fixture), fix.sum())]
        return out


def corpus(
    vocab: Vocab, seed: int, n_convs: int, first_conv: int = 0,
    markers: "list[str] | None" = None,
) -> pa.Table:
    """Conversations ``first_conv .. first_conv+n_convs`` as a transcript
    table.  Each of ``markers`` is planted in ``MARKER_TURNS`` turns."""
    rng = np.random.default_rng([seed, 2, first_conv])
    n_turns = rng.integers(3, 31, size=n_convs)
    total = int(n_turns.sum())
    conv = np.repeat(np.arange(first_conv, first_conv + n_convs), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    tidx = np.arange(total) - np.repeat(starts, n_turns)
    roles = np.array(_ROLES, dtype=object)[tidx % len(_ROLES)]
    mean = np.array([_ROLE_WORDS[r] for r in roles], dtype=np.float64)
    lens = np.maximum(
        2, (mean * rng.lognormal(0.0, 0.6, size=total)).astype(np.int64)
    )
    flat = vocab.words(rng, int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - n:e]) for e, n in zip(ends, lens)]
    for i in np.flatnonzero(rng.random(total) < 0.02):
        texts[i] += " " + _UNICODE[int(rng.integers(0, len(_UNICODE)))]
    for m in markers or ():
        for i in rng.choice(total, size=MARKER_TURNS, replace=False):
            texts[i] += " " + m
    base_ts = np.datetime64("2026-01-01T00:00:00", "us").astype("int64")
    ts = base_ts + conv * 3_600_000_000 + tidx * 60_000_000
    return pa.Table.from_pydict(
        {
            "conv_id": pa.array([f"conv{c:08d}" for c in conv], pa.string()),
            "turn_idx": pa.array(tidx, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(
                np.array(_TOOLS, dtype=object)[
                    rng.integers(0, len(_TOOLS), size=total)
                ],
                pa.string(),
            ),
            "ts": pa.array(ts.view("datetime64[us]"), pa.timestamp("us")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def write_corpus(table: pa.Table, path: str, rows_per_file: int) -> None:
    """Parquet directory (the builder's direct reader walks a directory)."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i, off in enumerate(range(0, max(1, table.num_rows), rows_per_file)):
        pq.write_table(
            table.slice(off, rows_per_file),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _query(
    shape: str, rng: np.random.Generator, vocab: Vocab, all_specials: bool
) -> str:
    w = list(vocab.words(rng, 4))
    s = list(vocab.words(rng, 2) if all_specials else vocab.zipf(rng, 2))
    if shape == "term":
        return w[0]
    if shape == "or":
        return (
            f"{w[0]} OR {w[1]} OR {w[2]}",
            f"{w[0]} OR ({w[1]} OR {w[2]})",
            f"({w[0]} OR {w[1]}) OR ({w[2]} OR {w[3]})",
            f"{w[0]} {w[1]}",
        )[int(rng.integers(0, 4))]
    if shape == "and":
        return (
            f"{w[0]} AND {w[1]}",
            f"({w[0]} OR {w[1]}) AND {w[2]}",
        )[int(rng.integers(0, 2))]
    if shape == "required":
        return (f"+{w[0]} {w[1]}", f"+{w[0]} +{w[1]} {w[2]}")[
            int(rng.integers(0, 2))
        ]
    if shape == "excluded":
        return (f"{w[0]} -{s[0]}", f"{w[0]} OR {w[1]} -{s[0]}")[
            int(rng.integers(0, 2))
        ]
    if shape == "exact":
        return (f'"{s[0]}"', f'"{s[0]}" {w[1]}')[int(rng.integers(0, 2))]
    if shape == "only_excluded":
        return f"-{s[0]}"
    absent = f"qzabsent{_letters(int(rng.integers(0, 1 << 20)))}"
    return (absent, f"{absent} OR -{s[0]}", f"{absent} AND {w[0]}")[
        int(rng.integers(0, 3))
    ]


def queries(
    vocab: Vocab, seed: int, n: int, offset: int = 0, all_specials=False,
    blocks=False,
) -> list[tuple[str, str, int]]:
    """``n`` (shape, query, k) triples, shapes drawn in ``SHAPE_SHARES``;
    with ``blocks``, every block of eight holds each shape once, in random
    order.  A different ``offset`` gives a different draw from the same
    grammar."""
    rng = np.random.default_rng([seed, 3, offset])
    out = []
    while len(out) < n:
        if blocks:
            picks = rng.permutation(len(SHAPES))[: n - len(out)]
        else:
            picks = rng.choice(len(SHAPES), size=n - len(out), p=SHAPE_SHARES)
        for i in picks:
            shape = SHAPES[i]
            out.append(
                (
                    shape, _query(shape, rng, vocab, all_specials),
                    int(rng.choice(K_VALUES, p=K_SHARES)),
                )
            )
    return out
