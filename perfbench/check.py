"""Answer comparison for the benchmark's correctness checks.

Matching rule: both answers have the same length and, after each is put
in canonical order, the same doc ids position by position with scores
within ``TOL``.  Canonical order: scores within ``TOL`` of their neighbour
form one tie group, groups run by score descending, and inside a group
ids run ascending.  So the order inside a tie group never fails a check,
but which docs make the k cut always counts.
"""

from __future__ import annotations

TOL = 1e-9


def _canonical(rows: list[tuple[int, float]]) -> list[tuple[int, float]]:
    rows = sorted(rows, key=lambda r: (-r[1], r[0]))
    out: list[tuple[int, float]] = []
    group: list[tuple[int, float]] = []
    for r in rows:
        if group and group[-1][1] - r[1] > TOL:
            out.extend(sorted(group))
            group = []
        group.append(r)
    out.extend(sorted(group))
    return out


def pairs(rows) -> list[tuple[int, float]]:
    """(doc_id, score) from engine Rows, local dicts or oracle results."""
    return [
        (int(r.doc_id), float(r.score)) if hasattr(r, "doc_id")
        else (int(r["doc_id"]), float(r["score"]))
        for r in rows
    ]


def mismatch(got, want) -> "str | None":
    """None when ``got`` matches ``want`` under the rule above, else why."""
    g, w = _canonical(pairs(got)), _canonical(pairs(want))
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(g, w)):
        if gd != wd:
            return f"rank {i}: doc {gd}, expected {wd}"
        if abs(gs - ws) > TOL:
            return f"rank {i}: doc {gd} score {gs!r}, expected {ws!r}"
    return None


class Ledger:
    """Every checked answer; a mismatch or an exception is a failure."""

    def __init__(self):
        self.checked = 0
        self.failures: list[dict] = []

    def compare(self, what: str, query: str, k, got, want) -> bool:
        self.checked += 1
        why = mismatch(got, want)
        if why is not None:
            self.failures.append({"check": what, "query": query, "k": k, "why": why})
        return why is None

    def fail(self, what: str, query: str, k, why: str) -> None:
        self.checked += 1
        self.failures.append({"check": what, "query": query, "k": k, "why": why})

    def expect(self, what: str, ok: bool, why: str) -> None:
        self.checked += 1
        if not ok:
            self.failures.append({"check": what, "query": None, "k": None, "why": why})
