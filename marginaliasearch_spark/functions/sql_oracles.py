"""DuckDB oracle-SQL generators for the approximate-dedup operators.

Each generator emits ONE SQL statement that recomputes the operator's
output from the raw ``documents`` view, using the identical hash pipeline
as the Spark side (md5 token hashes → order-sensitive shingle mix →
splitmix64 — see operators/dedup.py) re-expressed through the wrapping
64-bit arithmetic helpers in sql64.py.

Why these oracles are EXACT (not rows-only) despite the operators being
"approximate": the approximation is in *which document pairs meet* (LSH
banding), not in the similarity computed for a pair. Both banding schemes
carry a pigeonhole guarantee —

- minhash: a pair agreeing on ``>= nh - bands + 1`` of ``nh`` components
  must agree on one full band (``bands`` bands of ``nh/bands`` rows hold at
  most ``bands * (nh/bands - 1) = nh - bands`` agreements with no complete
  band). With ``ceil(threshold*nh) >= nh - bands + 1`` every pair the
  threshold accepts is guaranteed to collide in some bucket, so
  banded-join + threshold-filter == all-pairs + threshold-filter.
- simhash: ``max_hamming + 1`` bands can't all differ when at most
  ``max_hamming`` bits differ, so every within-budget pair collides.

The generators assert the pigeonhole precondition and then emit the
all-pairs form (fine at oracle scale, sf=0.01; the Spark side keeps the
banded form, which is the 100-TB path).
"""

from __future__ import annotations

import math

from ..operators.dedup import _SHINGLE_MIX, MINHASH_EMPTY_SENTINEL, minhash_params
from . import sql64


def shingle_ctes(width: int = 3, table: str = "documents") -> str:
    """CTE chain ``mraw → msh``: doc_id → one row per shingle hash.

    Mirrors ``dedup._shingle_hashes_batch``: whitespace-tokenize lowered
    text, md5-hash tokens, mix each width-window with the per-slot odd
    constants (missing slots of a truncated window contribute 0), finalize
    with splitmix64.
    """
    assert width <= len(_SHINGLE_MIX)
    slot = [sql64.mul64_const(f"t{k}.h", int(_SHINGLE_MIX[k])) for k in range(width)]
    combined = slot[0]
    for k in range(1, width):
        combined = sql64.add64(combined, f"coalesce({slot[k]}, 0::UBIGINT)")
    joins = "\n  ".join(
        (
            f"JOIN mth t0 ON t0.doc_id = s.doc_id AND t0.pos = s.p"
            if k == 0
            else f"LEFT JOIN mth t{k} ON t{k}.doc_id = s.doc_id AND t{k}.pos = s.p + {k}"
        )
        for k in range(width)
    )
    return f"""
mraw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS l
  FROM {table}
),
mtok AS (
  SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS pos FROM mraw
),
mth AS (SELECT doc_id, pos, {sql64.md5_u64('tok')} AS h FROM mtok),
mlen AS (SELECT doc_id, len(l)::BIGINT AS L FROM mraw),
mstart AS (
  SELECT doc_id, unnest(range(1, greatest(L - {width - 1}, 1) + 1)) AS p
  FROM mlen WHERE L > 0
),
msh0 AS (
  SELECT s.doc_id, {combined} AS m
  FROM mstart s
  {joins}
),
msh AS (SELECT doc_id, {sql64.sm64('m')} AS sh FROM msh0)"""


def minhash_lsh_sql(
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_width: int = 3,
    seed: int = 42,
) -> str:
    """Exact oracle for ``dedup.minhash_lsh_pairs``.

    NB: the oracle defaults to ``threshold=0.8`` while the engine defaults
    to 0.7 — the banded join is only *exact* (pigeonhole: every
    threshold-passing pair must agree on a full band) when
    ``ceil(threshold * num_hashes) >= num_hashes - bands + 1``, which 0.7
    does not satisfy at 64 hashes / 16 bands. At the engine's looser
    default the banded join is the classic probabilistic LSH and cannot be
    oracle-checked by this generator (the assert below enforces that).
    """
    assert math.ceil(threshold * num_hashes) >= num_hashes - bands + 1, (
        "banded LSH is only exact (pigeonhole) when every threshold-passing "
        "pair must fill a band; lower thresholds need a rows-only check"
    )
    mults, seeds = minhash_params(num_hashes, seed)
    mult_lits = ", ".join(f"{int(m)}::UBIGINT" for m in mults)
    seed_lits = ", ".join(f"{int(s)}::UBIGINT" for s in seeds)
    y = sql64.xor64(sql64.mul64("sh.sh", "p.mult"), "p.seedv")
    return f"""WITH {shingle_ctes(shingle_width)},
mperm AS (
  SELECT unnest(range({num_hashes})) AS k,
         unnest([{mult_lits}]) AS mult,
         unnest([{seed_lits}]) AS seedv
),
mv0 AS (SELECT sh.doc_id, p.k, {y} AS y FROM msh sh CROSS JOIN mperm p),
mv AS (SELECT doc_id, k, ({sql64.sm64('y')} >> 1)::BIGINT AS v FROM mv0),
msig0 AS (SELECT doc_id, k, min(v) AS v FROM mv GROUP BY doc_id, k),
msig AS (
  SELECT d.doc_id, kk.k, coalesce(s.v, {MINHASH_EMPTY_SENTINEL}) AS v
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range({num_hashes})) AS k) kk
  LEFT JOIN msig0 s ON s.doc_id = d.doc_id AND s.k = kk.k
),
magree AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS c
  FROM msig a JOIN msig b ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(c / {num_hashes}.0, 6) AS est_jaccard
FROM magree WHERE c / {num_hashes}.0 >= {threshold!r}"""


def minhash_lsh_between_sql(
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_width: int = 3,
    seed: int = 42,
    train_buckets: int = 98,
    salt: str = "split-v1",
) -> str:
    """Exact oracle for ``dedup.minhash_lsh_pairs_between`` where the two
    corpora are the train / eval sides of the default hash split (the
    driver tables only carry one documents relation): all (train, eval)
    pairs whose signature agreement clears the threshold. Same pigeonhole
    bound as the self-join oracle."""
    assert math.ceil(threshold * num_hashes) >= num_hashes - bands + 1
    mults, seeds = minhash_params(num_hashes, seed)
    mult_lits = ", ".join(f"{int(m)}::UBIGINT" for m in mults)
    seed_lits = ", ".join(f"{int(s)}::UBIGINT" for s in seeds)
    y = sql64.xor64(sql64.mul64("sh.sh", "p.mult"), "p.seedv")
    return f"""WITH {shingle_ctes(shingle_width)},
mperm AS (
  SELECT unnest(range({num_hashes})) AS k,
         unnest([{mult_lits}]) AS mult,
         unnest([{seed_lits}]) AS seedv
),
mv0 AS (SELECT sh.doc_id, p.k, {y} AS y FROM msh sh CROSS JOIN mperm p),
mv AS (SELECT doc_id, k, ({sql64.sm64('y')} >> 1)::BIGINT AS v FROM mv0),
msig0 AS (SELECT doc_id, k, min(v) AS v FROM mv GROUP BY doc_id, k),
msig AS (
  SELECT d.doc_id, kk.k, coalesce(s.v, {MINHASH_EMPTY_SENTINEL}) AS v
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range({num_hashes})) AS k) kk
  LEFT JOIN msig0 s ON s.doc_id = d.doc_id AND s.k = kk.k
),
mspl AS (
  SELECT doc_id,
         ('0x' || substr(md5('{salt}:' || doc_id::VARCHAR), 1, 15))::UBIGINT
           % 100 AS b
  FROM documents
),
magree AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS c
  FROM msig a
  JOIN mspl sa ON sa.doc_id = a.doc_id AND sa.b < {train_buckets}
  JOIN msig b ON a.k = b.k AND a.v = b.v
  JOIN mspl sb ON sb.doc_id = b.doc_id AND sb.b >= {train_buckets}
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(c / {num_hashes}.0, 6) AS est_jaccard
FROM magree WHERE c / {num_hashes}.0 >= {threshold!r}"""


def simhash_sql(max_hamming: int = 3, shingle_width: int = 3) -> str:
    """Exact oracle for ``dedup.simhash_pairs`` (same defaults)."""
    assert 64 % (max_hamming + 1) == 0
    return f"""WITH {shingle_ctes(shingle_width)},
mn AS (SELECT doc_id, count(*)::BIGINT AS n FROM msh GROUP BY doc_id),
mvote AS (
  SELECT s.doc_id, b.bit, sum(((s.sh >> b.bit) & 1::UBIGINT)::BIGINT) AS vv
  FROM msh s CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY 1, 2
),
mword AS (
  SELECT v.doc_id,
         sum(CASE WHEN 2 * v.vv > n.n THEN (1::HUGEINT << v.bit)
                  ELSE 0::HUGEINT END) AS w
  FROM mvote v JOIN mn n USING (doc_id) GROUP BY 1
),
msim AS (
  SELECT d.doc_id,
         coalesce(
           CASE WHEN w >= 9223372036854775808::HUGEINT
                THEN (w - {sql64.TWO64})::BIGINT
                ELSE w::BIGINT END, 0) AS sh
  FROM (SELECT doc_id FROM documents) d LEFT JOIN mword USING (doc_id)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
FROM msim a JOIN msim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}"""


def ngram_jaccard_sql(threshold: float = 0.5, shingle_width: int = 3) -> str:
    """Exact oracle for ``dedup.ngram_jaccard_pairs`` (no max_df):
    distinct-shingle-set Jaccard ≥ threshold over all qualifying pairs."""
    return f"""WITH {shingle_ctes(shingle_width)},
mset AS (SELECT DISTINCT doc_id, sh FROM msh),
msz AS (SELECT doc_id, count(*)::BIGINT AS set_size FROM mset GROUP BY doc_id),
minter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
  FROM mset a JOIN mset b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM minter
JOIN msz sa ON sa.doc_id = doc_a
JOIN msz sb ON sb.doc_id = doc_b
WHERE n_common / (sa.set_size + sb.set_size - n_common) >= {threshold!r}"""


# --- similarity-search oracles ---------------------------------------------
#
# Floating-point exactness: DuckDB's list_sum is NOT a plain left-to-right
# fold (measured: it matches sequential accumulation on only ~half of random
# 64-term inputs), so every dot product whose SIGN or ARGMAX matters is
# emitted as an explicit left-associated `e[1]*w1 + e[2]*w2 + ...` chain —
# the exact op sequence similarity._seq_dots performs on the Spark side.
# Final cosine values are rounded to 6 decimals on both sides, which absorbs
# summation-order noise, so only bucket/centroid decisions need the chains.


def _dot_lit_chain(col: str, w, cast: str = "::DOUBLE") -> str:
    """Left-assoc dot of an array column with a Python float vector."""
    return " + ".join(
        f"{col}[{i + 1}]{cast} * {float(x)!r}" for i, x in enumerate(w)
    )


def _dot_col_chain(a: str, b: str, dim: int, cast: str = "::DOUBLE") -> str:
    """Left-assoc dot of two array columns."""
    return " + ".join(
        f"{a}[{i + 1}]{cast} * {b}[{i + 1}]{cast}" for i in range(dim)
    )


def _sq_chain(col: str, dim: int, cast: str = "::DOUBLE") -> str:
    """Left-assoc sum of squares of an array column."""
    return " + ".join(
        f"{col}[{i + 1}]{cast} * {col}[{i + 1}]{cast}" for i in range(dim)
    )


def _cosine_topk_tail(qvec, k: int, src: str) -> str:
    """cosine top-k of the `{src}` CTE (vec_id, embedding) vs a literal
    query vector — mirrors similarity.cosine_topk + round(·, 6)."""
    import numpy as np

    qnorm = repr(float(np.linalg.norm(np.asarray(qvec, dtype=np.float64))))
    dim = len(qvec)
    return f"""
s AS (
  SELECT vec_id,
         ({_dot_lit_chain('embedding', qvec)}) AS dot,
         sqrt({_sq_chain('embedding', dim)}) AS nrm
  FROM {src}
)
SELECT vec_id, round(dot / (nrm * {qnorm}), 6) AS cosine
FROM s ORDER BY cosine DESC, vec_id LIMIT {k}"""


def lsh_topk_sql(
    qvec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> str:
    """Exact oracle for ``similarity.lsh_bucket_topk`` over the
    ``embeddings`` view (bucket = sign pattern vs the seeded hyperplanes,
    probes inlined from the deterministic driver-side probe set)."""
    from ..operators.similarity import _hyperplanes, lsh_probe_set

    planes = _hyperplanes(len(qvec), n_planes, seed)
    probes = lsh_probe_set(qvec, n_planes, seed, multiprobe_hamming)
    bucket = " + ".join(
        f"CASE WHEN ({_dot_lit_chain('embedding', planes[j])}) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(n_planes)
    )
    return f"""WITH b AS (
  SELECT vec_id, embedding, ({bucket})::BIGINT AS bucket FROM embeddings
),
cands AS (
  SELECT vec_id, embedding FROM b
  WHERE bucket IN ({', '.join(str(p) for p in probes)})
),{_cosine_topk_tail(qvec, k, 'cands')}"""


def embedding_neardup_sql(
    threshold: float = 0.3,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
) -> str:
    """Exact oracle for ``similarity.embedding_neardup_pairs``: same-bucket
    pairs (sign-pattern LSH, order-pinned float chains) with cosine ≥ τ.
    The engine's approximation (pairs must collide in the one bucket) is
    reproduced, not idealized — both sides emit the identical pair set."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        f"CASE WHEN ({_dot_lit_chain('embedding', planes[j])}) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(n_planes)
    )
    return f"""WITH b AS (
  SELECT vec_id, embedding, ({bucket})::BIGINT AS bucket FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         ({_dot_col_chain('a.embedding', 'c.embedding', dim)})
           / (sqrt({_sq_chain('a.embedding', dim)})
              * sqrt({_sq_chain('c.embedding', dim)})) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM p WHERE cosine >= {threshold!r}"""


def knn_join_sql(
    k: int = 3,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    probe_hamming: int = 1,
) -> str:
    """Exact oracle for ``similarity.knn_join``: candidate pairs are the
    vec pairs whose sign-buckets differ in ≤ ``probe_hamming`` bits (the
    engine's multiprobe approximation, reproduced not idealized), ranked
    per vector by rounded double cosine with neighbor_id tie-break."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        f"CASE WHEN ({_dot_lit_chain('embedding', planes[j])}) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(n_planes)
    )
    masks: list[int] = []
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    cond = "a.bucket = c.bucket"
    if masks:
        cond += f" OR xor(a.bucket, c.bucket) IN ({', '.join(map(str, masks))})"
    return f"""WITH b AS (
  SELECT vec_id, embedding, ({bucket})::BIGINT AS bucket FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
         round(({_dot_col_chain('a.embedding', 'c.embedding', dim)})
           / (sqrt({_sq_chain('a.embedding', dim)})
              * sqrt({_sq_chain('c.embedding', dim)})), 6) AS cosine
  FROM b a JOIN b c ON a.vec_id <> c.vec_id AND ({cond})
),
r AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM p
)
SELECT vec_id, neighbor_id, cosine FROM r WHERE rn <= {k}"""


def ivf_topk_sql(
    qvec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> str:
    """Exact oracle for ``similarity.ivf_topk`` over the ``embeddings``
    view. Centroid choice (md5-ordered sample), probe ranking, and argmax
    assignment (ties → ascending centroid id) all recomputed in SQL with
    order-pinned float chains."""
    import numpy as np

    dim = len(qvec)
    qnorm = repr(float(np.linalg.norm(np.asarray(qvec, dtype=np.float64))))
    return f"""WITH hh AS (
  SELECT vec_id, embedding,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::UBIGINT AS hv
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM hh ORDER BY hv, vec_id LIMIT {n_centroids}
),
cstat AS (
  SELECT cid, cemb, sqrt({_sq_chain('cemb', dim)}) AS cn,
         ({_dot_lit_chain('cemb', qvec)}) AS cqdot
  FROM cent
),
probes AS (
  SELECT cid FROM cstat ORDER BY cqdot / (cn * {qnorm}) DESC, cid LIMIT {nprobe}
),
assign0 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ({_dot_col_chain('e.embedding', 'c.cemb', dim)})
           / (sqrt({_sq_chain('e.embedding', dim)}) * c.cn) AS cosv
  FROM embeddings e CROSS JOIN cstat c
),
assign AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosv DESC, cid) AS rn
  FROM assign0
),
cands AS (
  SELECT vec_id, embedding FROM assign
  WHERE rn = 1 AND cid IN (SELECT cid FROM probes)
),{_cosine_topk_tail(qvec, k, 'cands')}"""


def quantized_topk_sql(qvec: list[float], k: int = 10, dim: int = 64) -> str:
    """Exact oracle for ``similarity.quantize_embeddings`` →
    ``quantized_cosine_topk`` over the ``embeddings`` view.

    Quantization is re-derived per vector in SQL with the identical IEEE
    op sequence the engine's ``transform()`` lambda performs —
    ``sign(v)·floor(|v|/(absmax/127.0) + 0.5)`` (max is order-independent,
    so ``list_max`` needs no chain pinning) — and the quantized query
    vector is inlined from the SAME driver-side helper the engine uses
    (``similarity.quantize_vector``), so the dot/norm arithmetic is exact
    integers on both sides and only the final division is floating point.
    """
    from ..operators.similarity import quantize_vector

    qq, qnorm = quantize_vector(qvec)
    dot = " + ".join(f"qvec[{i + 1}] * {int(x)}" for i, x in enumerate(qq))
    sq = " + ".join(f"qvec[{i + 1}] * qvec[{i + 1}]" for i in range(dim))
    return f"""WITH am AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS absmax
  FROM embeddings
),
q AS (
  SELECT vec_id,
         CASE WHEN absmax = 0
              THEN list_transform(embedding, x -> 0::BIGINT)
              ELSE list_transform(embedding, x ->
                     (floor(abs(x::DOUBLE) / (absmax / 127.0) + 0.5)
                      * (CASE WHEN x < 0 THEN -1 ELSE 1 END))::BIGINT)
         END AS qvec
  FROM am
),
s AS (
  SELECT vec_id, ({dot})::BIGINT AS dot, ({sq})::BIGINT AS sumsq FROM q
)
SELECT vec_id,
       CASE WHEN sqrt(sumsq::DOUBLE) * {qnorm!r} = 0 THEN -2.0
            ELSE round(dot::DOUBLE / (sqrt(sumsq::DOUBLE) * {qnorm!r}), 6)
       END AS qcosine
FROM s ORDER BY qcosine DESC, vec_id LIMIT {k}"""


def contamination_sql(
    shingle_width: int = 3, train_buckets: int = 98, salt: str = "split-v1"
) -> str:
    """Exact oracle for ``decontam.contamination`` at the default
    train/val/test weights (98/1/1 → eval = buckets >= ``train_buckets``
    of the 100-bucket salted-md5 split): per-train-doc count of distinct
    shingle hashes shared with the eval splits' shingle set."""
    return f"""WITH {shingle_ctes(shingle_width)},
cset AS (SELECT DISTINCT doc_id, sh FROM msh),
cspl AS (
  SELECT doc_id,
         ('0x' || substr(md5('{salt}:' || doc_id::VARCHAR), 1, 15))::UBIGINT
           % 100 AS b
  FROM documents
),
cev AS (
  SELECT DISTINCT sh FROM cset JOIN cspl USING (doc_id)
  WHERE b >= {train_buckets}
)
SELECT c.doc_id, count(*)::BIGINT AS n_shared
FROM cset c JOIN cspl USING (doc_id) JOIN cev USING (sh)
WHERE b < {train_buckets}
GROUP BY c.doc_id"""


def components_sql(pairs_sql: str) -> str:
    """Exact oracle for ``dedup.connected_components`` over the pair set
    produced by ``pairs_sql`` (any generator above): a recursive CTE
    computes min-reachable-id transitive closure — feasible at oracle
    scale, which is exactly what the distributed star contraction exists
    to avoid at 100 TB."""
    return f"""WITH RECURSIVE ccpairs AS (
{pairs_sql}
),
ccedges AS (
  SELECT doc_a AS u, doc_b AS v FROM ccpairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM ccpairs
),
ccreach(node, comp) AS (
  SELECT u, u FROM ccedges
  UNION
  SELECT e.u, r.comp FROM ccedges e JOIN ccreach r ON r.node = e.v
)
SELECT node AS doc_id, min(comp) AS component
FROM ccreach GROUP BY node"""


def pagerank_knn_sql(
    k: int = 20,
    iterations: int = 5,
    scale: int = 10**12,
    knn_k: int = 3,
    dim: int = 64,
    n_planes: int = 6,
) -> str:
    """Exact oracle for ``ranking.pagerank`` → ``pagerank_topk`` over the
    kNN graph of the ``embeddings`` view (edge u→v = "v is one of u's
    top-``knn_k`` cosine neighbors", the engine's ``similarity.knn_join``
    reproduced verbatim via :func:`knn_join_sql`).

    Why an EXACT twin is possible at all: the engine's PageRank is
    fixed-point *integer* arithmetic (``operators/ranking.py``) — init
    ``scale`` units/node, per-edge share ``(85·s) div (100·outdeg)``,
    dangling mass ``(85·s) div 100`` redistributed as ``D div N``, teleport
    ``(15·scale·N) div (100·N)`` — and integer sums are order-independent,
    so no float-chain pinning is needed. The fixed iteration count is
    unrolled into one CTE pair (contrib, next-scores) per round. DuckDB's
    ``sum(BIGINT)`` returns HUGEINT; every sum is cast back to BIGINT,
    matching Spark's int64 throughout (all values non-negative, so floor
    and truncating division agree).
    """
    body = _pagerank_ctes(iterations, scale, knn_k, dim, n_planes)
    return f"""WITH {body}
SELECT id AS vec_id, s AS score,
       row_number() OVER (ORDER BY s DESC, id) - 1 AS rank
FROM prit{iterations}
ORDER BY s DESC, id LIMIT {k}"""


def search_set_sql(
    depth: int = 25,
    iterations: int = 3,
    scale: int = 10**12,
    knn_k: int = 3,
    dim: int = 64,
    n_planes: int = 6,
) -> str:
    """Exact oracle for ``searchset.ranking_search_set`` over the same
    integer-PageRank replay as :func:`pagerank_knn_sql`: the top-``depth``
    ranked ids (score desc, id tiebreak) as a one-column conv_id set —
    ``SearchSetsService.recalculateNormal``'s
    ``calculate(depth, accumulator)`` selection."""
    body = _pagerank_ctes(iterations, scale, knn_k, dim, n_planes)
    return f"""WITH {body}
SELECT CAST(id AS VARCHAR) AS conv_id
FROM prit{iterations}
ORDER BY s DESC, id LIMIT {depth}"""


def _pagerank_ctes(
    iterations: int, scale: int, knn_k: int, dim: int, n_planes: int
) -> str:
    """The shared WITH-body of the integer-PageRank replay (see
    :func:`pagerank_knn_sql` for why it is exact): edge list ``predges``,
    vertex set ``prnodes``, and one (dangling, contrib, scores) CTE triple
    per unrolled iteration ending at ``prit{iterations}``."""
    knn = knn_join_sql(k=knn_k, dim=dim, n_planes=n_planes)
    base = f"(15 * {scale}::BIGINT * (SELECT n FROM prn)) // (100 * (SELECT n FROM prn))"
    ctes = [
        f"""predges AS (
  SELECT vec_id AS src, neighbor_id AS dst FROM (
{knn}
  )
),
prnodes AS (SELECT vec_id AS id FROM embeddings),
prn AS (SELECT count(*)::BIGINT AS n FROM prnodes),
prdeg AS (SELECT src, count(*)::BIGINT AS outdeg FROM predges GROUP BY src),
prit0 AS (SELECT id, {scale}::BIGINT AS s FROM prnodes)"""
    ]
    for i in range(iterations):
        ctes.append(
            f"""prd{i} AS (
  SELECT coalesce(sum((85 * s) // 100), 0)::BIGINT AS d
  FROM prit{i} WHERE id NOT IN (SELECT src FROM prdeg)
),
prc{i} AS (
  SELECT e.dst AS id, sum((85 * t.s) // (100 * g.outdeg))::BIGINT AS c
  FROM predges e JOIN prdeg g ON e.src = g.src JOIN prit{i} t ON t.id = e.src
  GROUP BY e.dst
),
prit{i + 1} AS (
  SELECT nd.id,
         ({base}
          + (SELECT d FROM prd{i}) // (SELECT n FROM prn)
          + coalesce(c.c, 0))::BIGINT AS s
  FROM prnodes nd LEFT JOIN prc{i} c ON nd.id = c.id
)"""
        )
    return ",\n".join(ctes)


def conv_info_sql(
    k: int = 20,
    iterations: int = 5,
    scale: int = 10**12,
    knn_k: int = 3,
    dim: int = 64,
    n_planes: int = 6,
) -> str:
    """Exact oracle for ``browse.domain_info`` over the kNN graph +
    integer PageRank of the ``embeddings`` view with metadata from
    ``documents`` (the engine's ``rank_conv_info`` entry).

    Exactness: the link counts are integer aggregates; the ranking
    percentile is computed in the SAME exact-integer round-half-up
    arithmetic as the engine (``(200·(N−1−rn) + (N−1)) // (2·(N−1))``
    over the pinned (score desc, id) row_number), and the PageRank scores
    it ranks are the order-independent fixed-point integers of
    :func:`_pagerank_ctes` — no float anywhere."""
    body = _pagerank_ctes(iterations, scale, knn_k, dim, n_planes)
    nm1 = "((SELECT n FROM prn) - 1)"
    return f"""WITH {body},
dideg_out AS (SELECT src AS id, count(*)::BIGINT AS c FROM predges GROUP BY src),
dideg_in AS (SELECT dst AS id, count(*)::BIGINT AS c FROM predges GROUP BY dst),
dirk AS (
  SELECT id, row_number() OVER (ORDER BY s DESC, id) - 1 AS rn
  FROM prit{iterations}
)
SELECT d.doc_id AS vec_id, d.lang, d.source, d.n_chars::BIGINT AS n_chars,
       coalesce(i.c, 0)::BIGINT AS incoming_links,
       coalesce(o.c, 0)::BIGINT AS outbound_links,
       (CASE WHEN r.rn IS NULL THEN 0
             WHEN {nm1} = 0 THEN 100
             ELSE (200 * ({nm1} - r.rn) + {nm1}) // (2 * {nm1})
        END)::BIGINT AS ranking
FROM documents d
LEFT JOIN dideg_in i ON i.id = d.doc_id
LEFT JOIN dideg_out o ON o.id = d.doc_id
LEFT JOIN dirk r ON r.id = d.doc_id
ORDER BY d.doc_id LIMIT {k}"""


# --- DSIR importance-resampling oracles -------------------------------------


def dsir_weights_sql(
    targets: tuple[str, ...],
    n_buckets: int = 4096,
    salt: str = "dsir-v1",
    top_n: int | None = None,
) -> str:
    """Exact DuckDB twin of ``dsir.importance_weights`` (and, with
    ``top_n``, ``dsir.importance_resample``).

    Replays the engine byte for byte: the dedup-style token relation,
    1-based bigram construction, the salted-md5 bucket hash, exact-integer
    per-bucket totals, the identical scalar log-ratio expression, and —
    the part that makes the doubles match — the per-doc weight as a
    left-to-right ``list_reduce`` fold over contributions in ascending
    bucket order, mirroring the engine's ``F.aggregate`` over a
    bucket-sorted array (dsir.py:importance_weights). Only the final
    weight is rounded (to 6), same as the engine.
    """
    tlist = ", ".join(f"'{t}'" for t in targets)
    order = (
        f"ORDER BY logw DESC, doc_id ASC LIMIT {top_n}" if top_n else ""
    )
    return f"""
WITH dtoks AS (
  SELECT doc_id, source IN ({tlist}) AS is_target,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '' AND length(t) < 64) AS l
  FROM documents
),
dng AS (
  SELECT doc_id, is_target, unnest(l) AS ng FROM dtoks
  UNION ALL
  SELECT doc_id, is_target,
         unnest(list_transform(range(1, len(l)),
                               i -> l[i] || ' ' || l[i + 1]))
  FROM dtoks
),
dcnt AS (
  SELECT doc_id, is_target,
         ('0x' || substr(md5('{salt}:' || ng), 1, 15))::BIGINT
           % {n_buckets} AS bucket,
         count(*)::BIGINT AS cnt
  FROM dng GROUP BY 1, 2, 3
),
ddist AS (
  SELECT bucket,
         sum(CASE WHEN is_target THEN cnt ELSE 0 END)::BIGINT AS tcnt,
         sum(CASE WHEN NOT is_target THEN cnt ELSE 0 END)::BIGINT AS rcnt
  FROM dcnt GROUP BY bucket
),
dtot AS (SELECT sum(tcnt)::BIGINT AS t, sum(rcnt)::BIGINT AS r FROM ddist),
dlr AS (
  SELECT bucket,
         ln((tcnt::DOUBLE + 1.0) / (t + {n_buckets})::DOUBLE)
       - ln((rcnt::DOUBLE + 1.0) / (r + {n_buckets})::DOUBLE) AS lr
  FROM ddist, dtot
),
dcontrib AS (
  SELECT c.doc_id, c.bucket, c.cnt::DOUBLE * dlr.lr AS contrib
  FROM dcnt c JOIN dlr USING (bucket) WHERE NOT c.is_target
)
SELECT doc_id,
       round(list_reduce(list_prepend(0.0::DOUBLE,
                                      list(contrib ORDER BY bucket)),
                         (a, x) -> a + x), 6) AS logw
FROM dcontrib GROUP BY doc_id {order}"""


def stupid_backoff_sql(targets: tuple[str, ...]) -> str:
    """Exact DuckDB twin of ``lm.stupid_backoff_scores`` with the LM
    counted on ``source IN targets`` and every other document scored.

    Replays the engine op for op: the dedup-style token relation, 1-based
    adjacent-pair construction, exact-integer bigram/unigram counts, the
    identical per-transition CASE (seen ratio vs add-1 backoff with
    ``0.4::DOUBLE`` and the exact ``(N + V)`` denominator), the per-doc
    left-fold over transitions in ascending position order
    (``list_reduce`` ↔ the engine's ``F.aggregate`` over a pos-sorted
    array), logprob rounded to 6 FIRST, and ppl derived from the rounded
    logprob — the same two final float ops in the same order.
    """
    tlist = ", ".join(f"'{t}'" for t in targets)
    return f"""
WITH lmtok AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '' AND length(t) < 64) AS l
  FROM documents WHERE source IN ({tlist})
),
uni AS (
  SELECT term, count(*)::BIGINT AS uc
  FROM (SELECT unnest(l) AS term FROM lmtok) GROUP BY term
),
big AS (
  SELECT pc['prev'] AS prev, pc['cur'] AS cur, count(*)::BIGINT AS bc
  FROM (
    SELECT unnest(list_transform(range(1, len(l)),
                                 i -> {{'prev': l[i], 'cur': l[i + 1]}})) AS pc
    FROM lmtok
  ) GROUP BY 1, 2
),
tot AS (SELECT sum(uc)::BIGINT AS n, count(*)::BIGINT AS v FROM uni),
ptok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '' AND length(t) < 64) AS l
  FROM documents WHERE source NOT IN ({tlist})
),
ptr AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS prev, l[i + 1] AS cur
  FROM ptok, unnest(range(1, len(l))) AS t(i)
),
sc AS (
  SELECT p.doc_id, p.pos,
         CASE WHEN b.bc IS NOT NULL AND u.uc IS NOT NULL
              THEN ln(b.bc::DOUBLE / u.uc::DOUBLE)
              ELSE ln(0.4::DOUBLE * (coalesce(cu.uc, 0)::DOUBLE + 1.0)
                      / (tot.n + tot.v)::DOUBLE)
         END AS lp
  FROM ptr p
  LEFT JOIN big b ON b.prev = p.prev AND b.cur = p.cur
  LEFT JOIN uni u ON u.term = p.prev
  LEFT JOIN uni cu ON cu.term = p.cur
  CROSS JOIN tot
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_trans,
         round(list_reduce(list_prepend(0.0::DOUBLE,
                                        list(lp ORDER BY pos)),
                           (a, x) -> a + x), 6) AS logprob
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_trans, logprob,
       round(exp(-logprob / n_trans::DOUBLE), 6) AS ppl
FROM agg"""


def adjacency_sql(
    edges_sql: str,
    *,
    max_card: int = 10_000,
    min_card: int = 10,
    threshold: float = 0.1,
    top_k: int = 128,
) -> str:
    """Exact oracle for ``ranking.adjacency_similarities``.

    ``edges_sql`` is a SELECT producing ``(src, dst)`` link rows. The twin
    replays the engine step-for-step: self-inclusive incoming sets,
    ``card < max_card`` vector eligibility, the ``card > min_card`` driving
    gate, the asymmetric ``cardMin = max(2, floor(0.01·card_a))`` candidate
    gate, the cheap cosine ``(and/sqrt(ca))/sqrt(cb)`` with pinned division
    order, weights ``coalesce(1/ln(2+card), 1.0)``, and the weighted
    cosine whose Σw sums fold left-to-right over src-ascending lists
    (``list_reduce`` ↔ the engine's ``F.aggregate`` over
    ``sort_array(collect_list(...))``) — so every double matches
    bit-for-bit and ``round(…, 6)`` / ``round(100·value)`` agree."""
    return f"""WITH adje AS (
  SELECT DISTINCT dst, src FROM ({edges_sql}) x WHERE dst <> src
),
adjr AS (
  SELECT dst, src FROM adje
  UNION ALL
  SELECT DISTINCT dst, dst AS src FROM adje
),
adjcard AS (SELECT dst, count(*)::BIGINT AS c FROM adjr GROUP BY dst),
adjelig AS (SELECT dst, c FROM adjcard WHERE c < {max_card}),
adjvec AS (
  SELECT r.dst, r.src, e.c FROM adjr r JOIN adjelig e ON e.dst = r.dst
),
adjwt AS (
  SELECT s.src, coalesce(1.0 / ln(2.0 + e.c), 1.0) AS w
  FROM (SELECT DISTINCT src FROM adjr) s
  LEFT JOIN adjelig e ON e.dst = s.src
),
adjpairs AS (
  SELECT a.dst AS da, b.dst AS db, a.c AS ca, b.c AS cb,
         count(*)::BIGINT AS and_card
  FROM adjvec a JOIN adjvec b ON a.src = b.src AND a.dst <> b.dst
  GROUP BY a.dst, b.dst, a.c, b.c
),
adjsurv AS (
  SELECT da, db, ca, cb, and_card FROM adjpairs
  WHERE ca > {min_card}
    AND cb >= greatest(2::BIGINT, floor(0.01 * ca)::BIGINT)
    AND (and_card::DOUBLE / sqrt(ca::DOUBLE)) / sqrt(cb::DOUBLE)
        > {threshold!r}
),
adjshared AS (
  SELECT s.da, s.db, v1.src, w.w
  FROM adjsurv s
  JOIN adjvec v1 ON v1.dst = s.da
  JOIN adjvec v2 ON v2.dst = s.db AND v2.src = v1.src
  JOIN adjwt w ON w.src = v1.src
),
adjnum AS (
  SELECT da, db,
         list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY src)),
                     (acc, x) -> acc + x) AS num
  FROM adjshared GROUP BY da, db
),
adjden AS (
  SELECT v.dst,
         list_reduce(list_prepend(0.0::DOUBLE, list(w.w ORDER BY v.src)),
                     (acc, x) -> acc + x) AS den
  FROM adjvec v JOIN adjwt w ON w.src = v.src
  GROUP BY v.dst
),
adjval AS (
  SELECT s.da, s.db, n.num / sqrt(d1.den * d2.den) AS value
  FROM adjsurv s
  JOIN adjnum n ON n.da = s.da AND n.db = s.db
  JOIN adjden d1 ON d1.dst = s.da
  JOIN adjden d2 ON d2.dst = s.db
  WHERE n.num / sqrt(d1.den * d2.den) > {threshold!r}
),
adjtop AS (
  SELECT da, db, value,
         row_number() OVER (PARTITION BY da ORDER BY value DESC, db) AS rn
  FROM adjval
)
SELECT da AS domain_id, db AS neighbor_id,
       round(100.0 * value)::INTEGER AS relatedness,
       round(value, 6) AS value
FROM adjtop WHERE rn <= {top_k}"""


def classify_sql(mode: str = "binary") -> str:
    """MLP document-classifier oracle (operators/classifier.py twin).

    Recomputes the full forward pass in SQL: trimTerm'd unigram + bigram
    feature extraction, per-hidden-unit weighted feature sums (exact —
    the default model's weights are dyadic rationals), ReLU, and a
    *textually left-associative* hidden→output chain matching the numpy
    kernel's sequential accumulation, so the pre-sigmoid logit is
    bit-identical on both engines. Only the sigmoid is transcendental;
    both sides round it to 6 decimals, and the flag bit is decided on the
    exact logit sign.
    """
    from ..operators.classifier import DEFAULT_VOCAB, Vocabulary, default_model

    vocab = Vocabulary(DEFAULT_VOCAB)
    model = default_model(len(vocab), mode=mode)
    vterms = ", ".join(
        f"({t!r}, {j})" for j, t in enumerate(vocab.terms)
    )
    w1_rows = ", ".join(
        f"({h}, {j}, {model.w1[h, j]!r})"
        for h in range(model.m_hidden)
        for j in range(model.n_inputs)
    )
    if mode == "counted":
        feats = "SELECT doc_id, j, COUNT(*)::DOUBLE AS act FROM matches GROUP BY doc_id, j"
    else:
        feats = (
            "SELECT doc_id, j, 1.0::DOUBLE AS act FROM "
            "(SELECT DISTINCT doc_id, j FROM matches)"
        )
    s_cols = ",\n    ".join(
        f"COALESCE(SUM(CASE WHEN m.h = {h} THEN m.wv * f.act END), 0) AS s{h}"
        for h in range(model.m_hidden)
    )
    z2 = repr(model.b2)
    for h in range(model.m_hidden):
        z2 = (
            f"({z2} + greatest({model.b1[h]!r} + COALESCE(h.s{h}, 0), 0)"
            f" * {model.w2[h]!r})"
        )
    return f"""
WITH cbase AS (
  SELECT doc_id,
    list_transform(
      list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''),
      x -> regexp_replace(regexp_replace(x, '^[^a-z0-9]+', ''),
                          '[^a-z0-9]+$', '')
    ) AS tw
  FROM documents
),
vterms(w, j) AS (VALUES {vterms}),
cuni AS (SELECT doc_id, unnest(tw) AS w FROM cbase),
cbi AS (
  SELECT doc_id,
         unnest(list_transform(range(2, len(tw) + 1),
                               i -> tw[i - 1] || '_' || tw[i])) AS w
  FROM cbase
),
matches AS (
  SELECT u.doc_id, v.j FROM cuni u JOIN vterms v USING (w)
  UNION ALL
  SELECT b.doc_id, v.j FROM cbi b JOIN vterms v USING (w)
),
feats AS ({feats}),
w1m(h, j, wv) AS (VALUES {w1_rows}),
fstat AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_features, SUM(act)::BIGINT AS act_total
  FROM feats GROUP BY doc_id
),
hs AS (
  SELECT f.doc_id, {s_cols}
  FROM feats f JOIN w1m m ON m.j = f.j
  GROUP BY f.doc_id
),
zz AS (
  SELECT d.doc_id,
    COALESCE(fs.n_features, 0) AS n_features,
    COALESCE(fs.act_total, 0) AS act_total,
    {z2} AS z2
  FROM documents d
  LEFT JOIN hs h USING (doc_id)
  LEFT JOIN fstat fs USING (doc_id)
)
SELECT doc_id, n_features, act_total,
  round(z2, 6) AS logit,
  round(1 / (1 + exp(-z2)), 6) AS score,
  (z2 >= 0) AS is_flagged
FROM zz"""


def topic_sql(
    term_values: dict[str, float],
    avg_length: int,
    mode: str = "once",
) -> str:
    """Topic-detector oracle (operators/topics.py twin).

    Inlines the surface→stem image of the testdata word pool
    (``topics.SYNTH_CORPUS_VOCAB`` — the documents generator's fixed
    31-token vocabulary) computed with the same Porter stemmer the engine
    uses; the engine derives its map from the corpus itself, and the two
    agree on any corpus drawn from the pool. Once-mode sums exact integer
    thousandths; decay-mode folds per-stem contributions in ascending-stem
    order via ``list_reduce`` — the mirror of the engine's ``F.aggregate``
    over a sorted array.
    """
    from ..functions.stemmer import porter_stem
    from ..operators.topics import SYNTH_CORPUS_VOCAB, stem_dictionary

    stem_vals = stem_dictionary(term_values)
    surf = {
        t: s
        for t in SYNTH_CORPUS_VOCAB
        if (s := porter_stem(t)) in stem_vals
    }
    if not surf:
        raise ValueError("dictionary matches nothing in the corpus pool")
    smap = ", ".join(f"({t!r}, {s!r})" for t, s in sorted(surf.items()))
    vmap = ", ".join(
        f"({s!r}, {int(round(v * 1000))})" for s, v in sorted(stem_vals.items())
    )
    if mode == "once":
        agg = """
  SELECT mm.doc_id, count(*)::BIGINT AS n_matched,
         (SUM(v.mv)::DOUBLE / 1000.0) AS raw
  FROM mm JOIN vmap v USING (stem) GROUP BY mm.doc_id"""
    else:
        agg = """
  SELECT mm.doc_id, count(*)::BIGINT AS n_matched,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list((v.mv::DOUBLE / 1000.0)
                  * (2.0 - pow(2.0, 1.0 - mm.k::DOUBLE)) ORDER BY stem)),
           (a, x) -> a + x) AS raw
  FROM mm JOIN vmap v USING (stem) GROUP BY mm.doc_id"""
    return f"""
WITH tp AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '') AS toks
  FROM documents
),
tbase AS (SELECT doc_id, len(toks)::BIGINT AS n_words FROM tp),
tt AS (SELECT doc_id, unnest(toks) AS tok FROM tp),
smap(tok, stem) AS (VALUES {smap}),
vmap(stem, mv) AS (VALUES {vmap}),
mm AS (
  SELECT t.doc_id, s.stem, count(*)::BIGINT AS k
  FROM tt t JOIN smap s USING (tok) GROUP BY t.doc_id, s.stem
),
tagg AS ({agg})
SELECT b.doc_id, b.n_words,
  COALESCE(a.n_matched, 0) AS n_matched,
  CASE WHEN b.n_words = 0 THEN 0.0 ELSE
    round(COALESCE(a.raw, 0.0)
          * (sqrt({float(avg_length)!r}) /
             sqrt(greatest({float(avg_length)!r}, b.n_words::DOUBLE))), 6)
  END AS score
FROM tbase b LEFT JOIN tagg a USING (doc_id)"""


def question_spam_sql(
    convs_per: int = 32,
    inject_mod: int = 5,
    min_positive: int = 4,
    min_ratio: float = 0.5,
) -> str:
    """Question-prefix spam oracle (topics.question_spam_scores twin over
    the driver entry's synthetic multi-turn relation: conv = doc_id//32,
    role cycles doc_id%4, a question prefix chosen by doc_id%5 is
    prepended when doc_id%5 < 3, straddling the > min_positive gate —
    both sides derive the identical turns from the documents view)."""
    from ..operators.topics import QUESTION_PREFIXES

    parr = ", ".join(f"{p!r}" for p in QUESTION_PREFIXES)
    return f"""
WITH qturns AS (
  SELECT (doc_id // {convs_per})::BIGINT AS conv_id,
         doc_id % 4 AS role_idx,
         CASE WHEN doc_id % {inject_mod} < 3
              THEN [{parr}][(doc_id % 5 + 1)::INTEGER] || ' ' || text
              ELSE text END AS text
  FROM documents
),
qagg AS (
  SELECT conv_id,
         count(*)::BIGINT AS total,
         count(*) FILTER (
           WHERE {" OR ".join(f"starts_with(text, '{p}')" for p in QUESTION_PREFIXES)}
         )::BIGINT AS positive
  FROM qturns WHERE role_idx = 2
  GROUP BY conv_id
)
SELECT conv_id::VARCHAR AS conv_id, total, positive,
       CAST(CASE WHEN positive > {min_positive}
                 AND positive / total::DOUBLE > {min_ratio!r}
            THEN 1.0 ELSE 0.0 END AS DOUBLE) AS spam_score
FROM qagg"""


def tfidf_keywords_sql() -> str:
    """TF-IDF keyword oracle (operators/keywords.py twin): identical
    formula text (``(0.1 + 0.9·cnt/max)·ln(df/N)``, truncate-toward-zero
    ×75) over the inlined surface→stem image of the testdata word pool
    minus stopwords."""
    from ..functions.stemmer import porter_stem
    from ..functions.tokenizer import STOPWORDS
    from ..operators.topics import SYNTH_CORPUS_VOCAB

    smap = ", ".join(
        f"({t!r}, {porter_stem(t)!r})"
        for t in sorted(SYNTH_CORPUS_VOCAB)
        if t not in STOPWORDS
    )
    norm = (
        "trunc((-((0.1 + 0.9 * c.cnt::DOUBLE / x.maxv) * ln(d.df / kn.n)))"
        " * 75.0)::BIGINT"
    )
    return f"""
WITH kbase AS (
  SELECT doc_id,
    list_filter(
      list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     t -> regexp_replace(regexp_replace(t,
                            '^[^a-z0-9]+', ''), '[^a-z0-9]+$', '')),
      t -> t <> '') AS toks
  FROM documents
),
ksmap(tok, stem) AS (VALUES {smap}),
ktok AS (SELECT doc_id, unnest(toks) AS tok FROM kbase),
kcnt AS (
  SELECT t.doc_id, m.stem, count(*)::BIGINT AS cnt
  FROM ktok t JOIN ksmap m USING (tok) GROUP BY t.doc_id, m.stem
),
kmax AS (SELECT doc_id, max(cnt)::DOUBLE AS maxv FROM kcnt GROUP BY doc_id),
kdf AS (SELECT stem, count(*)::DOUBLE AS df FROM kcnt GROUP BY stem),
kn AS (SELECT count(*)::DOUBLE AS n FROM documents)
SELECT c.doc_id, c.stem, c.cnt,
  {norm} AS tfidf_norm,
  (c.cnt > 1 AND {norm} > 100) AS is_high
FROM kcnt c
JOIN kmax x USING (doc_id)
JOIN kdf d USING (stem)
CROSS JOIN kn"""


SUBJECT_ENTRY_VERBS: tuple[str, ...] = ("was", "merged", "scanned", "is")


def subject_like_sql(threshold: int = 100) -> str:
    """Subject-like keyword oracle (keywords.subject_like_keywords twin)
    over the entry's injected text: after token i of each document, a verb
    from ``SUBJECT_ENTRY_VERBS`` (picked by ``(doc_id+i)%4``) is inserted
    when ``(doc_id+i)%5==0``, and a comma is attached when
    ``(doc_id+i)%7==0`` — giving the synthetic bags noun-before-verb spans
    plus comma vetoes. The pipeline then mirrors the operator exactly:
    re-tokenize, unigram/bigram candidates via window lookahead, per-doc
    TF-IDF over the same injected text, int-division bigram averaging,
    ``score >= threshold``."""
    from ..functions.stemmer import porter_stem
    from ..functions.tokenizer import STOPWORDS
    from ..operators.keywords import SUBJECT_AUX_VERBS
    from ..operators.topics import SYNTH_CORPUS_VOCAB

    vocab = sorted(set(SYNTH_CORPUS_VOCAB) | set(SUBJECT_ENTRY_VERBS))
    smap = ", ".join(
        f"({t!r}, {porter_stem(t)!r})" for t in vocab if t not in STOPWORDS
    )
    aux = ", ".join(f"'{v}'" for v in SUBJECT_AUX_VERBS)
    verbs = ", ".join(f"'{v}'" for v in SUBJECT_ENTRY_VERBS)
    verbish = (
        "({c} IN ({aux}) OR (len({c}) >= 4 AND {c} LIKE '%ed'))"
    )
    norm = (
        "trunc((-((0.1 + 0.9 * c.cnt::DOUBLE / x.maxv) * ln(d.df / kn.n)))"
        " * 75.0)::BIGINT"
    )
    return f"""
WITH sjb AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sjt AS (
  SELECT doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS i
  FROM sjb
),
sjp AS (
  SELECT doc_id, i,
    tok
    || CASE WHEN (doc_id + i) % 7 = 0 THEN ',' ELSE '' END
    || CASE WHEN (doc_id + i) % 5 = 0
            THEN ' ' || [{verbs}][CAST((doc_id + i) % 4 AS INTEGER) + 1]
            ELSE '' END AS piece
  FROM sjt
),
sdoc AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY i) AS itext
  FROM sjp GROUP BY doc_id
),
srw AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(itext), '\\s+'), t -> t <> '') AS rt
  FROM sdoc
),
sct AS (
  SELECT doc_id, p, contains(raw, ',') AS cm,
    regexp_replace(regexp_replace(lower(raw),
                   '^[^a-z0-9]+', ''), '[^a-z0-9]+$', '') AS cl
  FROM (SELECT doc_id, unnest(rt) AS raw,
               unnest(range(1, len(rt) + 1)) AS p FROM srw)
),
slk AS (
  SELECT doc_id, cl, cm,
    lead(cl) OVER w AS c1, lead(cm) OVER w AS m1,
    lead(cl, 2) OVER w AS c2
  FROM sct
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
ksmap(tok, stem) AS (VALUES {smap}),
kcnt AS (
  SELECT t.doc_id, m.stem, count(*)::BIGINT AS cnt
  FROM sct t JOIN ksmap m ON m.tok = t.cl GROUP BY t.doc_id, m.stem
),
kmax AS (SELECT doc_id, max(cnt)::DOUBLE AS maxv FROM kcnt GROUP BY doc_id),
kdf AS (SELECT stem, count(*)::DOUBLE AS df FROM kcnt GROUP BY stem),
kn AS (SELECT count(*)::DOUBLE AS n FROM documents),
ktf AS (
  SELECT c.doc_id, c.stem, {norm} AS norm
  FROM kcnt c JOIN kmax x USING (doc_id) JOIN kdf d USING (stem)
  CROSS JOIN kn
),
uc AS (
  SELECT l.doc_id, ms.stem AS s1, CAST(NULL AS VARCHAR) AS s2
  FROM slk l JOIN ksmap ms ON ms.tok = l.cl
  WHERE NOT l.cm AND {verbish.format(c='l.c1', aux=aux)}
),
bc AS (
  SELECT l.doc_id, m1s.stem AS s1, m2s.stem AS s2
  FROM slk l
  JOIN ksmap m1s ON m1s.tok = l.cl
  JOIN ksmap m2s ON m2s.tok = l.c1
  WHERE NOT l.cm AND NOT l.m1 AND {verbish.format(c='l.c2', aux=aux)}
),
cand AS (
  SELECT DISTINCT doc_id, s1, s2
  FROM (SELECT * FROM uc UNION ALL SELECT * FROM bc)
),
scored AS (
  SELECT c.doc_id,
    CASE WHEN c.s2 IS NULL THEN c.s1 ELSE c.s1 || '_' || c.s2 END AS stem,
    CASE WHEN c.s2 IS NULL THEN t1.norm
         ELSE (t1.norm + t2.norm) // 2 END AS score
  FROM cand c
  JOIN ktf t1 ON t1.doc_id = c.doc_id AND t1.stem = c.s1
  LEFT JOIN ktf t2 ON t2.doc_id = c.doc_id AND t2.stem = c.s2
)
SELECT DISTINCT doc_id, stem, score::BIGINT AS score
FROM scored WHERE score >= {threshold}"""


def content_farm_sql() -> str:
    """Content-farm-penalty oracle (topics.content_farm_penalty twin over
    the entry's injected header lines: doc_id%4==1 prepends a 'benefits
    of' line, %4==2 'key benefits' + 'key takeaways', %4==3 all three)."""
    inject = """
  CASE doc_id % 4
    WHEN 1 THEN 'Benefits of spark' || chr(10) || text
    WHEN 2 THEN 'Key benefits:' || chr(10) || 'Key takeaways:' || chr(10) || text
    WHEN 3 THEN 'benefits of x' || chr(10) || 'key benefits y' || chr(10) || 'key takeaways z' || chr(10) || text
    ELSE text
  END"""
    flag = (
        "len(list_filter(string_split(lower(itext), chr(10)), "
        "l -> starts_with(l, '{p}'))) > 0"
    )
    return f"""
WITH cfi AS (SELECT doc_id, {inject} AS itext FROM documents),
cff AS (
  SELECT doc_id,
    {flag.format(p='benefits of')} AS benefits_of,
    {flag.format(p='key benefits')} AS key_benefits,
    {flag.format(p='key takeaways')} AS key_takeaways
  FROM cfi
)
SELECT doc_id, benefits_of, key_benefits, key_takeaways,
  CAST(CASE WHEN benefits_of THEN 10.0 ELSE 0.0 END
   + CASE WHEN key_benefits THEN 5.0 ELSE 0.0 END
   + CASE WHEN key_takeaways THEN 5.0 ELSE 0.0 END AS DOUBLE) AS penalty
FROM cff"""


def ppl_buckets_sql(targets: tuple[str, ...], buckets: int = 3) -> str:
    """CCNet tranche oracle (lm.ppl_buckets twin): exact rank over
    (ppl, doc_id), bucket = 1 + ((rank−1)·buckets) // n — pure integer
    math over the nested Stupid Backoff scores."""
    labels = (
        ["head", "middle", "tail"]
        if buckets == 3
        else [f"b{i + 1}" for i in range(buckets)]
    )
    larr = ", ".join(f"{x!r}" for x in labels)
    return f"""
WITH pb AS ({stupid_backoff_sql(targets)}),
pr AS (
  SELECT doc_id, ppl,
         row_number() OVER (ORDER BY ppl, doc_id) AS rank,
         count(*) OVER () AS n
  FROM pb
)
SELECT doc_id, ppl, rank::BIGINT AS rank,
       (1 + ((rank - 1) * {buckets}) // n)::BIGINT AS bucket,
       [{larr}][(1 + ((rank - 1) * {buckets}) // n)::INTEGER] AS tranche
FROM pr"""


def name_like_sql(min_count: int = 2, top_k: int = 150) -> str:
    """Name-like keyword oracle (keywords.name_like_keywords twin over
    the entry's injected capitalization: 1-based token position p of
    doc_id gets ALL-CAPS when (doc_id+p)%7==0 — skipped by the all-caps
    rule — else leading-cap when (doc_id+p)%3==0)."""
    from ..functions.stemmer import porter_stem
    from ..functions.tokenizer import STOPWORDS
    from ..operators.topics import SYNTH_CORPUS_VOCAB

    # the engine's corpus_stem_map excludes stopwords (a determiner can
    # never be a NAME span); mirror that here
    smap = ", ".join(
        f"({t!r}, {porter_stem(t)!r})"
        for t in sorted(SYNTH_CORPUS_VOCAB)
        if t not in STOPWORDS
    )
    return f"""
WITH nlb AS (
  SELECT doc_id,
    list_filter(
      list_transform(regexp_split_to_array(trim(text), '\\s+'),
                     t -> regexp_replace(regexp_replace(t,
                            '^[^A-Za-z0-9]+', ''), '[^A-Za-z0-9]+$', '')),
      t -> t <> '') AS toks
  FROM documents
),
nli AS (
  SELECT doc_id,
    list_transform(range(1, len(toks) + 1), p ->
      CASE WHEN (doc_id + p) % 7 = 0 THEN upper(toks[p])
           WHEN (doc_id + p) % 3 = 0
             THEN upper(substr(toks[p], 1, 1)) || substr(toks[p], 2)
           ELSE toks[p] END) AS toks
  FROM nlb
),
nlt AS (SELECT doc_id, unnest(toks) AS tok FROM nli),
nlname AS (
  SELECT doc_id, tok FROM nlt
  WHERE regexp_matches(tok, '^[A-Z]')
    AND NOT regexp_matches(tok, '^[A-Z0-9]+$')
),
nlsmap(tok, stem) AS (VALUES {smap}),
nlcnt AS (
  SELECT n.doc_id, m.stem, count(*)::BIGINT AS cnt
  FROM nlname n JOIN nlsmap m ON m.tok = lower(n.tok)
  GROUP BY n.doc_id, m.stem
  HAVING count(*) >= {min_count + 1}
),
nlr AS (
  SELECT doc_id, stem, cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, stem) AS rn
  FROM nlcnt
)
SELECT doc_id, stem, cnt FROM nlr WHERE rn <= {top_k}"""


def artifact_keywords_sql() -> str:
    """Artifact-keyword oracle (keywords.artifact_keywords twin over the
    entry's injected addresses: doc_id%3==0 appends a plain address,
    %5==0 an ignored-user address, %7==0 an ignored-domain address)."""
    from ..operators.keywords import (
        ARTIFACT_IGNORED_DOMAINS,
        ARTIFACT_IGNORED_USERS,
    )

    dom_list = ", ".join(f"{d!r}" for d in ARTIFACT_IGNORED_DOMAINS)
    usr_list = ", ".join(f"{u!r}" for u in ARTIFACT_IGNORED_USERS)
    return f"""
WITH akb AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' reach user' || doc_id::VARCHAR || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' or admin@test' || doc_id::VARCHAR || '.example.org' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' else bob' || doc_id::VARCHAR || '@gmail.com' ELSE '' END
      AS text
  FROM documents
),
akt AS (
  SELECT doc_id, unnest(list_filter(
    list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
                   t -> regexp_replace(regexp_replace(t,
                          '^[^a-z0-9]+', ''), '[^a-z0-9]+$', '')),
    t -> t <> '')) AS tok
  FROM akb
),
akm AS (
  SELECT doc_id, tok,
         string_split(tok, '@')[1] AS usr,
         string_split(tok, '@')[2] AS dom
  FROM akt
  WHERE length(tok) >= 6
    AND regexp_matches(tok, '^[a-zA-Z0-9._\\-]+@[a-zA-Z0-9]+(\\.[a-zA-Z0-9]+)+$')
),
aka AS (
  SELECT doc_id, tok AS artifact FROM akm
  UNION
  SELECT doc_id, dom FROM akm WHERE '@' || dom NOT IN ({dom_list})
  UNION
  SELECT doc_id, '@' || dom FROM akm WHERE '@' || dom NOT IN ({dom_list})
  UNION
  SELECT doc_id, usr FROM akm WHERE usr NOT IN ({usr_list})
)
SELECT DISTINCT doc_id, artifact FROM aka"""


def serp_dedup_sql(
    n_results: int = 60, results_per_key: int = 2, max_hamming: int = 2
) -> str:
    """SERP-dedup oracle (operators/serp.dedupe_results twin): the
    first-wins three-rule chain replayed as a recursive CTE whose state
    row carries the seen-key / retained-hash / group lists — state
    updates mirror UrlDeduplicator exactly (keys remembered even for
    dropped rows; hashes and group counts advance only past the earlier
    rules). Input relation is doc_id-derived on both engines: 60-bit
    md5 hashes per quartet with low-bit XOR variations (hamming 1/2/3
    chains), doc_id%11==0 zero hashes, superficial-key collisions by
    doc_id%6, groups doc_id%5."""
    sup = "CASE WHEN n.doc_id % 6 < 3 THEN 's' || (n.doc_id % 10)::VARCHAR ELSE 'u' || n.doc_id::VARCHAR END"
    sup_ok = "NOT list_contains(c.keys, n.superficial)"
    lsh_ok = (
        "(n.data_hash = 0 OR len(list_filter(c.hashes, "
        f"h -> bit_count(xor(h, n.data_hash)) < {max_hamming})) = 0)"
    )
    grp_ok = f"len(list_filter(c.grps, g -> g = n.grp)) < {results_per_key}"
    return f"""
WITH RECURSIVE snum AS (
  SELECT doc_id,
    CASE WHEN doc_id % 6 < 3 THEN 's' || (doc_id % 10)::VARCHAR
         ELSE 'u' || doc_id::VARCHAR END AS superficial,
    CASE WHEN doc_id % 11 = 0 THEN 0
         ELSE xor(('0x' || substr(md5((doc_id // 4)::VARCHAR), 1, 15))::BIGINT,
                  CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                                  WHEN 2 THEN 3 ELSE 7 END) END AS data_hash,
    'g' || (doc_id % 5)::VARCHAR AS grp,
    row_number() OVER (ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id < {n_results}
),
chain AS (
  SELECT 0::BIGINT AS rn, []::VARCHAR[] AS keys, []::BIGINT[] AS hashes,
         []::VARCHAR[] AS grps,
         NULL::BIGINT AS doc_id, NULL::VARCHAR AS superficial,
         NULL::BIGINT AS data_hash, NULL::VARCHAR AS grp,
         NULL::BOOLEAN AS retained
  UNION ALL
  SELECT n.rn,
    CASE WHEN {sup_ok} THEN list_append(c.keys, n.superficial) ELSE c.keys END,
    CASE WHEN {sup_ok} AND n.data_hash <> 0 AND {lsh_ok}
         THEN list_append(c.hashes, n.data_hash) ELSE c.hashes END,
    CASE WHEN {sup_ok} AND {lsh_ok}
         THEN list_append(c.grps, n.grp) ELSE c.grps END,
    n.doc_id, n.superficial, n.data_hash, n.grp,
    ({sup_ok} AND {lsh_ok} AND ({sup_ok} AND {lsh_ok} AND {grp_ok}))
  FROM chain c JOIN snum n ON n.rn = c.rn + 1
)
SELECT doc_id AS rank, superficial, data_hash, grp, retained
FROM chain WHERE rn >= 1"""


def datacard_sql() -> str:
    """Exact oracle for ``datacard.data_card`` over the driver's
    ``documents`` table: counts, exact-dup counts (count minus distinct
    md5), char/token totals, and interpolated p50/p90 lengths
    (``quantile_cont`` interpolates identically to Spark's exact
    ``percentile`` — verified bit-for-bit on the driver tables)."""
    return """SELECT lang, source,
       count(*)::BIGINT AS n_docs,
       (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_exact_dups,
       sum(n_chars)::BIGINT AS total_chars,
       sum(len(list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '')))::BIGINT AS total_tokens,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
FROM documents GROUP BY lang, source"""


def kmeans_sql(k: int = 8, iters: int = 2, quant: int = 1 << 20) -> str:
    """Exact oracle for ``similarity.kmeans_assign`` over the
    ``embeddings`` view: Lloyd k-means on the same integer lattice.

    Every step is either exact int64 arithmetic (lattice snap, squared
    distances, per-dim sums — all order-free) or a single pinned IEEE
    double op (``floor(sum/count)`` re-quantizing each new centroid), so
    the SQL reproduces the engine byte-for-byte. Iterations are unrolled
    as chained CTEs; empty clusters keep the previous centroid via the
    LEFT JOIN + COALESCE."""
    d2 = (
        "list_sum(list_transform(list_zip(p.vq, c.cq),"
        " z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )

    def assign(ci: str) -> str:
        return f"""(
  SELECT vec_id, cid AS cluster, d2 FROM (
    SELECT p.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {d2}, c.cid) AS rn
    FROM pts p CROSS JOIN {ci} c) WHERE rn = 1)"""

    ctes = [
        f"""pts AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT)) AS vq
  FROM embeddings)""",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY hv, vec_id) - 1 AS cid, vq AS cq
  FROM (SELECT vec_id, vq,
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::UBIGINT AS hv
        FROM pts ORDER BY hv, vec_id LIMIT {k}))""",
    ]
    for it in range(iters):
        ctes.append(f"a{it} AS {assign(f'c{it}')}")
        ctes.append(f"""u{it} AS (
  SELECT cluster,
         list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
              ORDER BY i) AS cq_new
  FROM (SELECT t.cluster, t.i, SUM(t.v) AS s, COUNT(*) AS n
        FROM (SELECT a.cluster, generate_subscripts(p.vq, 1) AS i,
                     unnest(p.vq) AS v
              FROM a{it} a JOIN pts p USING (vec_id)) t
        GROUP BY t.cluster, t.i)
  GROUP BY cluster)""")
        ctes.append(f"""c{it + 1} AS (
  SELECT i.cid, COALESCE(u.cq_new, i.cq) AS cq
  FROM c{it} i LEFT JOIN u{it} u ON u.cluster = i.cid)""")
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        # d2 is a HUGEINT (DuckDB list_sum over BIGINT) — cast back to
        # BIGINT so the driver's value canonicalization sees int64 on both
        # sides (Decimal('x') hashes differently from x even when ==; this
        # was the r04 sim_kmeans hash-FAIL root cause). Exact: d2 ≪ 2⁶³.
        f"SELECT vec_id, cluster, CAST(d2 AS BIGINT) AS d2 "
        f"FROM {assign(f'c{iters}')} t"
    )


def kmeans_semantic_pairs_sql(
    threshold: float = 0.3,
    k: int = 8,
    iters: int = 2,
    quant: int = 1 << 20,
    dim: int = 64,
) -> str:
    """Exact oracle for ``similarity.kmeans_neardup_pairs``: the full
    k-means statement rides as a nested-WITH CTE, pairs join on equal
    cluster ids, and the cosine uses the same left-assoc double chains as
    every other embedding oracle (the within-cluster-only approximation
    is reproduced, not idealized)."""
    return f"""SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ({_dot_col_chain('ea.embedding', 'eb.embedding', dim)})
           / (sqrt({_sq_chain('ea.embedding', dim)})
              * sqrt({_sq_chain('eb.embedding', dim)})) AS cosine
  FROM ({kmeans_sql(k, iters, quant)}) a
  JOIN ({kmeans_sql(k, iters, quant)}) b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE sqrt({_sq_chain('ea.embedding', dim)}) > 0
    AND sqrt({_sq_chain('eb.embedding', dim)}) > 0) p
WHERE cosine >= {threshold!r}"""


def pq_topk_sql(
    qvec: list[float],
    k: int = 10,
    m: int = 8,
    ksub: int = 8,
    iters: int = 2,
    quant: int = 1 << 20,
    dim: int = 64,
) -> str:
    """Exact oracle for ``similarity.pq_train → pq_encode → pq_topk``:
    product-quantization ADC top-k over the ``embeddings`` view.

    The per-subspace Lloyd loop is ``kmeans_sql`` with the subspace id
    riding every key (one extra column — DuckDB trains all m codebooks in
    the same unrolled CTE chain, exactly like the engine's single-relation
    shuffles). The query's lattice subvectors are inlined as literal
    BIGINT lists, the LUT is the (m·ksub)-row distance table off the final
    codebook, and the ADC sum/ordering is all-integer, so the comparison
    is hash-exact."""
    subdim = dim // m
    q = [math.floor(float(x) * quant) for x in qvec]
    qrows = ", ".join(
        "({}, [{}]::BIGINT[])".format(
            s, ", ".join(str(v) for v in q[s * subdim : (s + 1) * subdim])
        )
        for s in range(m)
    )
    d2 = (
        "list_sum(list_transform(list_zip(p.vq, c.cq),"
        " z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )

    def assign(ci: str) -> str:
        return f"""(
  SELECT vec_id, sub, cid, d2 FROM (
    SELECT p.vec_id, p.sub, c.cid, {d2} AS d2,
           row_number() OVER (
             PARTITION BY p.vec_id, p.sub
             ORDER BY {d2}, c.cid) AS rn
    FROM pts p JOIN {ci} c USING (sub)) WHERE rn = 1)"""

    ctes = [
        f"""pts AS (
  SELECT vec_id, s.range::INT AS sub,
         list_transform(
           list_slice(embedding, s.range * {subdim} + 1,
                      (s.range + 1) * {subdim}),
           x -> CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT)) AS vq
  FROM embeddings CROSS JOIN range({m}) s)""",
        f"""c0 AS (
  SELECT sub, rn - 1 AS cid, vq AS cq FROM (
    SELECT sub, vq,
           row_number() OVER (
             PARTITION BY sub
             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::UBIGINT,
                      vec_id) AS rn
    FROM pts) WHERE rn <= {ksub})""",
    ]
    for it in range(iters):
        ctes.append(f"a{it} AS {assign(f'c{it}')}")
        ctes.append(f"""u{it} AS (
  SELECT sub, cid,
         list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
              ORDER BY i) AS cq_new
  FROM (SELECT t.sub, t.cid, t.i, SUM(t.v) AS s, COUNT(*) AS n
        FROM (SELECT a.sub, a.cid, generate_subscripts(p.vq, 1) AS i,
                     unnest(p.vq) AS v
              FROM a{it} a JOIN pts p USING (vec_id, sub)) t
        GROUP BY t.sub, t.cid, t.i)
  GROUP BY sub, cid)""")
        ctes.append(f"""c{it + 1} AS (
  SELECT i.sub, i.cid, COALESCE(u.cq_new, i.cq) AS cq
  FROM c{it} i LEFT JOIN u{it} u ON u.sub = i.sub AND u.cid = i.cid)""")
    ctes.append(f"enc AS {assign(f'c{iters}')}")
    ctes.append(f"q(sub, qq) AS (VALUES {qrows})")
    ctes.append(f"""lut AS (
  SELECT c.sub, c.cid,
         list_sum(list_transform(list_zip(q.qq, c.cq),
           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS pd
  FROM c{iters} c JOIN q USING (sub))""")
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT e.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adc_d2
FROM enc e JOIN lut l ON l.sub = e.sub AND l.cid = e.cid
GROUP BY e.vec_id
ORDER BY adc_d2, e.vec_id
LIMIT {k}"""


def ivfpq_topk_sql(
    qvec: list[float],
    k: int = 10,
    coarse_k: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 8,
    iters: int = 2,
    quant: int = 1 << 20,
    dim: int = 64,
) -> str:
    """Exact oracle for ``similarity.ivfpq_topk``: IVFADC over the
    ``embeddings`` view — coarse lattice k-means cells, PQ codebooks
    trained on the exact integer residuals, nprobe cell selection, and
    the per-cell residual ADC sum. Two unrolled Lloyd chains (the coarse
    one keyless, the PQ one keyed by subspace) share one emitter; every
    step is int64-exact or the single pinned ``floor(sum/count)`` double
    op, so the comparison is hash-exact."""
    subdim = dim // m
    q = [math.floor(float(x) * quant) for x in qvec]
    qlit = "[{}]::BIGINT[]".format(", ".join(str(v) for v in q))
    d2z = "list_sum(list_transform(list_zip({a}, {b}), z -> (z[1] - z[2]) * (z[1] - z[2])))"

    def lloyd(prefix: str, src: str, kk: int, key: str) -> tuple[list[str], str]:
        """CTE chain for one unrolled Lloyd loop over ``src`` (columns:
        vec_id[, key], vq). Returns (ctes, final_centroid_cte_name); the
        per-point assignment against any centroid CTE is emitted by the
        closure below (same (d2, cid) tie pin as the engine)."""
        kcols = f"{key}, " if key else ""
        kpart = f", p.{key}" if key else ""
        kjoin = f" USING ({key})" if key else ""
        join = f"JOIN {{ci}} c{kjoin}" if key else "CROSS JOIN {ci} c"
        d2 = d2z.format(a="p.vq", b="c.cq")

        def assign(ci: str) -> str:
            return f"""(
  SELECT vec_id, {kcols}cid, d2 FROM (
    SELECT p.vec_id, {('p.' + key + ', ') if key else ''}c.cid, {d2} AS d2,
           row_number() OVER (
             PARTITION BY p.vec_id{kpart}
             ORDER BY {d2}, c.cid) AS rn
    FROM {src} p {join.format(ci=ci)}) WHERE rn = 1)"""

        part = f"PARTITION BY {key} " if key else "PARTITION BY 1 "
        ctes = [f"""{prefix}0 AS (
  SELECT {kcols}rn - 1 AS cid, vq AS cq FROM (
    SELECT {kcols}vq,
           row_number() OVER (
             {part}
             ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::UBIGINT,
                      vec_id) AS rn
    FROM {src}) WHERE rn <= {kk})"""]
        ujoin = f"u.{key} = i.{key} AND " if key else ""
        for it in range(iters):
            ctes.append(f"{prefix}a{it} AS {assign(f'{prefix}{it}')}")
            ctes.append(f"""{prefix}u{it} AS (
  SELECT {kcols}cid,
         list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
              ORDER BY i) AS cq_new
  FROM (SELECT {('t.' + key + ', ') if key else ''}t.cid, t.i, SUM(t.v) AS s, COUNT(*) AS n
        FROM (SELECT {('a.' + key + ', ') if key else ''}a.cid, generate_subscripts(p.vq, 1) AS i,
                     unnest(p.vq) AS v
              FROM {prefix}a{it} a JOIN {src} p USING (vec_id{', ' + key if key else ''})) t
        GROUP BY {('t.' + key + ', ') if key else ''}t.cid, t.i)
  GROUP BY {kcols}cid)""")
            ctes.append(f"""{prefix}{it + 1} AS (
  SELECT {('i.' + key + ', ') if key else ''}i.cid, COALESCE(u.cq_new, i.cq) AS cq
  FROM {prefix}{it} i LEFT JOIN {prefix}u{it} u ON {ujoin}u.cid = i.cid)""")
        return ctes, assign

    ctes = [f"""pts AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT)) AS vq
  FROM embeddings)"""]
    g_ctes, g_assign = lloyd("g", "pts", coarse_k, "")
    ctes += g_ctes
    ctes.append(f"ca AS {g_assign(f'g{iters}')}")
    ctes.append(f"""res AS (
  SELECT p.vec_id, a.cid AS cell,
         list_transform(list_zip(p.vq, c.cq), z -> z[1] - z[2]) AS rq
  FROM pts p JOIN ca a USING (vec_id) JOIN g{iters} c ON c.cid = a.cid)""")
    ctes.append(f"""rpts AS (
  SELECT vec_id, s.range::INT AS sub,
         list_slice(rq, s.range * {subdim} + 1, (s.range + 1) * {subdim}) AS vq
  FROM res CROSS JOIN range({m}) s)""")
    p_ctes, p_assign = lloyd("p", "rpts", ksub, "sub")
    ctes += p_ctes
    ctes.append(f"enc AS {p_assign(f'p{iters}')}")
    ctes.append(f"qv(q) AS (VALUES ({qlit}))")
    ctes.append(f"""probes AS (
  SELECT cid AS cell, cq,
         {d2z.format(a='qv.q', b='g.cq')} AS qd2
  FROM g{iters} g CROSS JOIN qv
  ORDER BY qd2, cid LIMIT {nprobe})""")
    ctes.append(f"""qres AS (
  SELECT cell, s.range::INT AS sub,
         list_slice(list_transform(list_zip(qv.q, cq), z -> z[1] - z[2]),
                    s.range * {subdim} + 1, (s.range + 1) * {subdim}) AS qq
  FROM probes CROSS JOIN qv CROSS JOIN range({m}) s)""")
    ctes.append(f"""lut AS (
  SELECT r.cell, r.sub, c.cid,
         {d2z.format(a='r.qq', b='c.cq')} AS pd
  FROM qres r JOIN p{iters} c USING (sub))""")
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT e.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adc_d2
FROM enc e
JOIN ca a USING (vec_id)
JOIN lut l ON l.cell = a.cid AND l.sub = e.sub AND l.cid = e.cid
GROUP BY e.vec_id
ORDER BY adc_d2, e.vec_id
LIMIT {k}"""


def hash_embed_sql(dim: int = 64) -> str:
    """Exact oracle for ``similarity.hash_embed_documents``: signed
    feature-hashing bag-of-words over the ``documents`` view. Bucket
    values are exact integer sums and the squared norm is an exact
    int64, so the only float ops are the final sqrt + division — pinned
    IEEE doubles, hash-exact against the engine."""
    idx = "[" + ", ".join(str(i) for i in range(dim)) + "]"
    return f"""WITH hb AS (
  SELECT doc_id,
    list_filter(
      list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     t -> regexp_replace(regexp_replace(t,
                            '^[^a-z0-9]+', ''), '[^a-z0-9]+$', '')),
      t -> t <> '') AS toks
  FROM documents),
ht AS (SELECT doc_id, unnest(toks) AS tok FROM hb),
hh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS hv
       FROM ht),
hc AS (SELECT doc_id, ((hv >> 1) % {dim})::BIGINT AS bucket,
              SUM(CASE WHEN hv % 2 = 1 THEN -1 ELSE 1 END)::BIGINT AS v
       FROM hh GROUP BY doc_id, bucket),
hm AS (SELECT doc_id, map(list(bucket), list(v)) AS m
       FROM hc GROUP BY doc_id),
hvec AS (SELECT d.doc_id,
               list_transform({idx}::BIGINT[],
                              i -> COALESCE(map_extract(m, i)[1], 0)) AS iv
        FROM documents d LEFT JOIN hm USING (doc_id)),
hsum AS (SELECT doc_id, iv,
               list_sum(list_transform(iv, v -> v * v))::BIGINT AS ss
        FROM hvec)
SELECT doc_id,
       list_transform(iv, v -> CASE WHEN ss = 0 THEN 0.0
                                    ELSE v::DOUBLE / sqrt(ss::DOUBLE) END)
         AS embedding
FROM hsum"""


def bpe_encode_sql(merges: list[tuple[str, str]]) -> str:
    """Exact oracle for ``bpe.bpe_encode`` under a FIXED merge table
    (the pretrained-tokenizer scenario, ``bpe.pretrained_merges``):
    per distinct word, a recursive CTE repeatedly merges the LEFTMOST
    occurrence of the current rank's pair, advancing rank when none
    remains — provably equal to the reference's one left-to-right pass
    per rank, because a merged token ``l||r`` can never equal ``l`` or
    ``r``, so a merge never creates a new occurrence of its own pair.
    Streams reassemble in word order; md5 + token counts compare
    hash-exact against the engine's mapInPandas encoder."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    n = len(merges)
    mt = ", ".join(
        f"({i}, {q(l)}, {q(r)})" for i, (l, r) in enumerate(merges)
    )
    return f"""WITH RECURSIVE mt(rank, l, r) AS (VALUES {mt}),
bwords AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS wi, unnest(toks) AS w
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents) s),
dw AS (SELECT DISTINCT w FROM bwords),
enc(w, rank, syms) AS (
  SELECT w, 0, [(w)[i] for i in range(1, 1 + length(w))] || ['</w>']
  FROM dw
  UNION ALL
  SELECT w,
         CASE WHEN j IS NULL THEN rank + 1 ELSE rank END,
         CASE WHEN j IS NULL THEN syms
              ELSE list_slice(syms, 1, j - 1) || [l || r]
                   || list_slice(syms, j + 2, len(syms)) END
  FROM (
    SELECT e.w, e.rank, e.syms, m.l, m.r,
           list_min([i for i in range(1, len(e.syms))
                     if e.syms[i] = m.l AND e.syms[i + 1] = m.r]) AS j
    FROM enc e JOIN mt m ON m.rank = e.rank) st),
encf AS (SELECT w, syms FROM enc WHERE rank = {n}),
perdoc AS (
  SELECT doc_id,
         SUM(len(syms))::BIGINT AS bpe_tokens,
         md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY wi))
           AS stream_md5
  FROM bwords JOIN encf USING (w)
  GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(p.bpe_tokens, 0) AS bpe_tokens,
       COALESCE(p.stream_md5, md5('')) AS stream_md5
FROM documents d LEFT JOIN perdoc p USING (doc_id)"""
