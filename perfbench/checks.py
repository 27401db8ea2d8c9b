"""Result checks against the independent oracle in ``tests/oracle_ref``.

Each check returns ``None`` when the engine's rows are right and a short
reason otherwise. Single-term, AND and AND-NOT results (WAND included)
must match ``bm25_rank``: same length, scores within 1e-9, and the same
conversation at every rank that is not tied. OR and phrase results must
satisfy their term and adjacency constraints and be as many as the corpus
allows. No result may be a deleted conversation.
"""

from __future__ import annotations

from tests import oracle_ref

from .inputs import Query

TOL = 1e-9


class Oracle:
    """Ranking view of one index: the documents its statistics cover, and
    the conversations its reader must never return."""

    def __init__(self, docs: dict[str, list[str]], turns: dict, deleted=frozenset()):
        self.docs = docs
        self.turns = turns
        self.deleted = frozenset(deleted)

    def _live(self, convs) -> list[str]:
        return [c for c in convs if c not in self.deleted]

    def _has_phrase(self, conv: str, a: str, b: str) -> bool:
        slots: dict[str, set[int]] = {}
        for t, p in oracle_ref.assemble_positions(self.turns[conv]):
            slots.setdefault(t, set()).add(p)
        return any(p + 1 in slots.get(b, ()) for p in slots.get(a, ()))

    def check(self, q: Query, rows: list[tuple[str, float]], k: int) -> str | None:
        ids = [c for c, _ in rows]
        scores = [s for _, s in rows]
        if any(c in self.deleted for c in ids):
            return "returned a deleted conversation"
        if scores != sorted(scores):
            return "scores not ascending"
        if len(set(ids)) != len(ids):
            return "duplicate conversation"
        if q.shape in ("or_and", "phrase"):
            if q.shape == "or_and":
                a, b, c = q.include
                ok = [
                    d for d in self._live(self.docs)
                    if c in self.docs[d] and (a in self.docs[d] or b in self.docs[d])
                ]
            else:
                a, b = q.include
                ok = [
                    d for d in self._live(self.docs)
                    if a in self.docs[d] and b in self.docs[d] and self._has_phrase(d, a, b)
                ]
            if not set(ids) <= set(ok):
                return "result violates the query's constraints"
            if len(ids) != min(k, len(ok)):
                return f"{len(ids)} results, expected {min(k, len(ok))}"
            return None
        # ranked past k too, so a tie across the cut-off is seen as a tie
        ranked = oracle_ref.bm25_rank(
            self.docs, list(q.include), list(q.exclude), k=2 * k + len(self.deleted)
        )
        ranked = [e for e in ranked if e[0] not in self.deleted]
        expect = ranked[:k]
        if len(expect) != len(rows):
            return f"{len(rows)} results, expected {len(expect)}"
        for i, ((g_id, g_s), (e_id, e_s)) in enumerate(zip(rows, expect)):
            if abs(g_s - e_s) >= TOL:
                return f"rank {i}: score {g_s!r}, expected {e_s!r}"
            tied = any(
                abs(e_s - o_s) < TOL for j, (_, o_s) in enumerate(ranked) if j != i
            )
            if not tied and g_id != e_id:
                return f"rank {i}: {g_id}, expected {e_id}"
        return None
