"""Seeded inputs: the transcript corpus and the queries.

The corpus follows ``zipf_corpus`` (token ``z{r}`` drawn with p ∝ 1/(r+1)^s,
turns alternating user/assistant, a system opener in one conversation of
eight, ~5% tool turns) but is generated here with numpy and written with
pyarrow, so writing the inputs costs no Spark job and the engine only ever
receives the parquet. ``Corpus`` reads that parquet back, so the queries
(and the oracle in ``checks``) work from exactly the bytes the engine
indexed.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests import oracle_ref

TURNS_PER_CONV = 10
TOKENS_PER_TURN = 40
VOCAB = 20_000
ZIPF_S = 1.1
ROWS_PER_FILE = 5_000

SHAPES = ("single", "and", "and_not", "or_and", "phrase", "wand")


def write_transcripts(path: str, prefix: str, first_conv: int, n_convs: int, seed: int) -> None:
    """``n_convs`` seeded Zipf conversations ``{prefix}{i:08d}`` → parquet files."""
    rng = np.random.default_rng(seed % (1 << 64))
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    n = n_convs * TURNS_PER_CONV
    tok = np.searchsorted(cdf, rng.random((n, TOKENS_PER_TURN)))
    row = np.arange(n)
    conv = first_conv + row // TURNS_PER_CONV
    turn = row % TURNS_PER_CONV
    role = np.where(turn % 2 == 0, "user", "assistant").astype(object)
    role[(turn == 0) & (conv % 8 == 0)] = "system"
    role[(rng.random(n) < 0.05) & (turn > 0)] = "tool"
    table = pa.table(
        {
            "conv_id": [f"{prefix}{c:08d}" for c in conv],
            "turn_idx": pa.array(turn, pa.int32()),
            "role": role.tolist(),
            "text": [" ".join(f"z{j}" for j in r) for r in tok.tolist()],
            "tool": [""] * n,
            "ts": pa.array(
                np.datetime64("2025-01-01") + (conv * 3600 + turn).astype("timedelta64[s]"),
                pa.timestamp("us"),
            ),
        }
    )
    os.makedirs(path, exist_ok=True)
    for i in range(0, n, ROWS_PER_FILE):
        pq.write_table(table.slice(i, ROWS_PER_FILE), os.path.join(path, f"part-{i:08d}.parquet"))


@dataclass(frozen=True)
class Query:
    qid: int
    shape: str
    text: str
    include: tuple[str, ...]
    exclude: tuple[str, ...] = ()


class Corpus:
    """conv_id → assembled token list (and turn texts) of one parquet dir."""

    def __init__(self, path: str):
        table = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
        turns: dict[str, list[tuple[int, str]]] = {}
        self.text_bytes = 0
        for conv, idx, text in zip(*(table.column(c).to_pylist() for c in table.column_names)):
            turns.setdefault(conv, []).append((idx, text))
            self.text_bytes += len(text.encode("utf-8"))
        self.n_turns = table.num_rows
        self.turns = turns
        self.docs = {c: oracle_ref.assemble(t) for c, t in turns.items()}
        self.ids = sorted(self.docs)

    def postings(self) -> dict[str, set[str]]:
        out: dict[str, set[str]] = {}
        for conv, toks in self.docs.items():
            for t in set(toks):
                out.setdefault(t, set()).add(conv)
        return out


def make_queries(
    corpus: Corpus, seed: int, n_cycles: int, k: int, shapes: tuple[str, ...] = SHAPES
) -> list[list[Query]]:
    """``n_cycles`` cycles of one query per shape, distinct, seeded.

    Terms are drawn log-uniform over Zipf rank (token ``z{r}`` has rank r),
    so document frequency runs from head to tail and head terms repeat. A
    draw is kept only if it matches at least one document (``k`` for the
    WAND shape, whose pruning needs a full top-k); phrases are taken from
    adjacent tokens of a random turn, so they always match.
    """
    rng = random.Random(seed * 1_000_003 + 17)
    post = corpus.postings()

    def term(max_rank: int) -> str:
        while True:
            r = int(math.exp(rng.uniform(0.0, math.log(max_rank))))
            if f"z{r - 1}" in post:
                return f"z{r - 1}"

    def distinct(n: int, max_rank: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = term(max_rank)
            if t not in out:
                out.append(t)
        return out

    def draw(shape: str) -> tuple[str, tuple, tuple]:
        while True:
            if shape == "single":
                (a,) = distinct(1, 5000)
                return a, (a,), ()
            if shape == "and":
                a, b = distinct(2, 2000)
                if post[a] & post[b]:
                    return f"{a} {b}", (a, b), ()
            elif shape == "and_not":
                a = term(2000)
                b = term(200)
                if a != b and post[a] - post[b]:
                    return f"{a} -{b}", (a,), (b,)
            elif shape == "or_and":
                a, b, c = distinct(3, 2000)
                if (post[a] | post[b]) & post[c]:
                    return f"( {a} | {b} ) {c}", (a, b, c), ()
            elif shape == "phrase":
                conv = rng.choice(corpus.ids)
                _, text = rng.choice(corpus.turns[conv])
                toks = oracle_ref.tokenize(text)
                j = rng.randrange(len(toks) - 1)
                if toks[j] != toks[j + 1]:
                    return f'"{toks[j]} {toks[j + 1]}"', (toks[j], toks[j + 1]), ()
            elif shape == "wand":
                a, b = distinct(2, 500)
                if len(post[a] & post[b]) >= k:
                    return f"{a} {b} qs=wand", (a, b), ()

    cycles, seen, qid = [], set(), 0
    for _ in range(n_cycles):
        cycle = []
        for shape in shapes:
            text, inc, exc = draw(shape)
            while text in seen:
                text, inc, exc = draw(shape)
            seen.add(text)
            cycle.append(Query(qid, shape, text, inc, exc))
            qid += 1
        cycles.append(cycle)
    return cycles
