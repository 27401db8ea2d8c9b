"""Query parsing + compiled-query expression tree.

Re-implements the *semantics* of the reference's query front-end in pure
Python (driver-side planning, no cluster work):

- token syntax from ``QueryParser.java:33-100``: bare terms (AND),
  ``-term`` exclusion, ``"quoted phrase"``, ``?priorityTerm``, and
  specification limits ``<field><op><value>`` (reference: ``year>2020``,
  ``size<100``; our transcript analogues: ``turns``, ``len``), and
  ``lang:xx`` language scoping (``QueryParser.java:225-227``);
- the compiled-query grammar ``( a | b ) c`` — n-ary AND of items where an
  item is a term or a parenthesized OR of sub-expressions
  (``CompiledQueryParser.java:10-67``);
- path enumeration over the AND/OR tree (the reference scores via
  max-over-paths of sum-along-path, ``CompiledQueryAggregates.java:160-184``).

Terms are normalized with the same tokenizer as ingestion so query-side and
index-side term equivalence classes match (``SearchContext.java:159-160``
hashes query keywords with the same hasher as the journal writer).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd

from ..functions.tokenizer import tokenize_texts

_LIMIT_RE = re.compile(r"^(?P<field>[a-z]+)(?P<op>>=|<=|=|>|<)(?P<value>\d+)$")

# Role names accepted by ``qs=rf_<role>`` — must mirror
# ``operators.ingest.ROLE_FLAG`` (kept literal here to avoid a
# plans→operators import cycle; pinned by a parser test).
_QS_ROLES = frozenset({"system", "assistant", "user", "tool"})


@dataclass(frozen=True)
class Term:
    word: str

    def paths(self) -> list[list[str]]:
        return [[self.word]]

    def all_terms(self) -> set[str]:
        return {self.word}


@dataclass(frozen=True)
class And:
    children: tuple

    def paths(self) -> list[list[str]]:
        out: list[list[str]] = [[]]
        for c in self.children:
            out = [p + q for p in out for q in c.paths()]
        return out

    def all_terms(self) -> set[str]:
        return set().union(*(c.all_terms() for c in self.children))


@dataclass(frozen=True)
class Or:
    children: tuple

    def paths(self) -> list[list[str]]:
        return [p for c in self.children for p in c.paths()]

    def all_terms(self) -> set[str]:
        return set().union(*(c.all_terms() for c in self.children))


def parse_compiled(expr: str):
    """Parse the reference's compiled-query string grammar ``( a | b ) c``.

    AND binds by juxtaposition; ``|`` separates alternatives inside parens
    (CompiledQueryParser semantics).
    """
    tokens = re.findall(r"\(|\)|\||[^\s()|]+", expr)
    pos = 0

    def parse_and(stop: set[str]):
        nonlocal pos
        items = []
        while pos < len(tokens) and tokens[pos] not in stop:
            t = tokens[pos]
            if t == "(":
                pos += 1
                items.append(parse_or())
                # explicit raise, not assert: queries are user input, so
                # a truncated "(a" must be the catchable ValueError (an
                # assert is also stripped under python -O, and tokens[pos]
                # alone would IndexError past the end)
                if pos >= len(tokens) or tokens[pos] != ")":
                    raise ValueError(f"unbalanced parens in {expr!r}")
                pos += 1
            elif t in (")", "|"):
                # only reachable at the ROOT (inside parens these are in
                # `stop`): a stray ")" or a top-level "|" is malformed —
                # without this they'd silently parse as literal terms
                # (Term(')')) and participate in path enumeration
                raise ValueError(f"unexpected {t!r} in {expr!r}")
            else:
                pos += 1
                items.append(Term(t))
        if not items:
            raise ValueError(f"empty expression in {expr!r}")
        return items[0] if len(items) == 1 else And(tuple(items))

    def parse_or():
        nonlocal pos
        alts = [parse_and({")", "|"})]
        while pos < len(tokens) and tokens[pos] == "|":
            pos += 1
            alts.append(parse_and({")", "|"}))
        return alts[0] if len(alts) == 1 else Or(tuple(alts))

    root = parse_and(set())
    # defense in depth: with the stray-")"/"|" rejection above, the root
    # parse consumes every token or raises there — but keep the explicit
    # check (never an assert: stripped under -O) as the contract
    if pos != len(tokens):
        raise ValueError(f"trailing tokens in {expr!r}")
    return root


@dataclass
class SpecLimit:
    field: str  # 'turns' | 'len'
    op: str
    value: int


@dataclass
class ParsedQuery:
    include: object | None = None  # And/Or/Term tree over normalized terms
    exclude: list[str] = field(default_factory=list)
    priority: list[str] = field(default_factory=list)
    # advisory terms: ``( word ... )`` without ``|`` — required to match
    # but contribute NOTHING to ranking (the reference's AdviceTerm,
    # QueryParser.java:25 handleAdvisoryTerms; carried as
    # searchTermsAdvice, excluded from the compiled ranking expression)
    advice: list[str] = field(default_factory=list)
    phrases: list[list[str]] = field(default_factory=list)
    # optional phrase-constraint groups (reference: QueryFactory adds
    # expansion-produced segments as SearchPhraseConstraint.optional,
    # QueryFactory.java:181-187; quoted phrases above are the MANDATORY
    # kind — filters — while optional groups only contribute score,
    # IndexResultRankingService.java:521-545)
    opt_phrases: list[list[str]] = field(default_factory=list)
    limits: list[SpecLimit] = field(default_factory=list)
    # role gates: ``in:system`` etc. — every include term must carry the
    # role's flag in the matched doc (the reference's query-strategy gate,
    # QueryStrategy REQUIRE_FIELD_*, IndexResultRankingService.java:226-260)
    gates: list[str] = field(default_factory=list)
    # conversation restrictions: ``conv:<id>`` include / ``-conv:<id>``
    # exclude — the transcript analogue of the reference's site:domain
    # docId-range filters (ReverseIndexRetain/RejectDocumentRangeFilter,
    # ranges from CombinedIndexReader.java:255-265)
    convs: list[str] = field(default_factory=list)
    convs_exclude: list[str] = field(default_factory=list)
    # ``lang:xx`` — scope df/N and the postings scan to one language
    # partition (the reference's lang: token, QueryParser.java:225-227,
    # backed here by the per-language index surface)
    lang: str | None = None
    # ``set:<name>`` — named persisted search set (QueryParser.java:228,
    # SetTerm; RankingSearchSet membership gate). Several set: tokens
    # intersect (each is its own membership constraint).
    sets: list[str] = field(default_factory=list)

    def all_include_terms(self) -> list[str]:
        terms: set[str] = set() if self.include is None else set(
            self.include.all_terms()
        )
        for ph in self.phrases:
            terms.update(ph)
        return sorted(terms)

    def ordered_include_terms(self) -> list[str]:
        """Include terms in query appearance order (first occurrence wins) —
        the reference's "full group" term order (QueryFactory builds the
        full phrase constraint from the query string in order)."""

        def walk(node) -> list[str]:
            if node is None:
                return []
            if isinstance(node, Term):
                return [node.word]
            return [w for c in node.children for w in walk(c)]

        seen: dict[str, None] = {}
        for w in walk(self.include):
            seen.setdefault(w)
        for ph in self.phrases:
            for w in ph:
                seen.setdefault(w)
        return list(seen)


def _normalize(word: str) -> list[str]:
    """Query-side keyword normalization = the ingestion tokenizer."""
    return [t for t in tokenize_texts(pd.Series([word])).iloc[0]]


def parse_query(q: str) -> ParsedQuery:
    """Human query string → ParsedQuery (QueryParser.java token semantics)."""
    out = ParsedQuery()
    and_items: list = []
    for raw in re.findall(r'"[^"]*"|\([^)]*\)|\S+', q.strip()):
        if raw.startswith('"') and raw.endswith('"'):
            words = [w for tok in raw[1:-1].split() for w in _normalize(tok)]
            if words:
                out.phrases.append(words)
                and_items.extend(Term(w) for w in words)
            continue
        if raw.startswith("("):
            # ``( a | b )`` = compiled OR alternatives (ranked); a paren
            # group with no ``|`` is the reference's ADVISORY group
            # (QueryParser.java:25 handleAdvisoryTerms): the terms must
            # match but are excluded from ranking
            if "|" in raw:
                and_items.append(parse_compiled(raw.lower()))
            else:
                inner = raw[1:-1] if raw.endswith(")") else raw[1:]
                for tok in inner.split():
                    out.advice.extend(_normalize(tok))
            continue
        if raw.lower().startswith("in:"):
            out.gates.append(raw[3:].lower())
            continue
        if raw.lower().startswith("conv:"):
            out.convs.append(raw[5:])
            continue
        if raw.lower().startswith("lang:"):
            out.lang = raw[5:].lower()
            continue
        if raw.lower().startswith("set:"):
            out.sets.append(raw[4:].lower())
            continue
        if raw.lower().startswith("near:"):
            # QueryParser.java:223-224 parses NearTerm, but no consumer
            # exists in the reference (QueryFactory never reads it and
            # QueryParams.nearDomain is dead) — exact parity is parse-
            # and-drop: the token is recognized and removed from the
            # term stream, influencing nothing.
            continue
        if raw.lower().startswith("qs="):
            # ``qs=<strategy>`` (QueryParser.java:238 QsTerm →
            # QueryFactory.parseQueryStrategy:246-258) picks the
            # reference's physical scan; there is one pipeline here, so
            # only the REQUIRE_FIELD_* family has an effect: ``rf_<role>``
            # becomes our role-flag gate (every matched term must carry the
            # field/role flag). Every other value is parsed and dropped.
            val = raw[3:].lower()
            if val.startswith("rf_") and val[3:] in _QS_ROLES:
                out.gates.append(val[3:])
            continue
        if raw.lower().startswith("-conv:"):
            out.convs_exclude.append(raw[6:])
            continue
        m = _LIMIT_RE.match(raw.lower())
        if m:
            out.limits.append(
                SpecLimit(m.group("field"), m.group("op"), int(m.group("value")))
            )
            continue
        if raw.startswith("-"):
            out.exclude.extend(_normalize(raw[1:]))
            continue
        if raw.startswith("?"):
            words = _normalize(raw[1:])
            out.priority.extend(words)
            continue
        and_items.extend(Term(w) for w in _normalize(raw))
    if and_items:
        out.include = and_items[0] if len(and_items) == 1 else And(tuple(and_items))
    return out
