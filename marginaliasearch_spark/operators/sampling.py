"""Deterministic corpus sampling / splitting over ``documents``.

Training-data pipelines carve a corpus into train/val/test and draw
stratified subsamples (per-language, per-quality-bucket) for evals and
ablations. At 100 TB both must be:

- **deterministic** — re-running the pipeline (or resuming a partial run)
  must assign every document to the same split, so the assignment is a
  pure hash of the document id, never ``rand()`` / ``sample()`` (Spark's
  ``DataFrame.sample`` is seed-stable only for a fixed partitioning —
  repartitioning the input silently reshuffles who is sampled);
- **shuffle-free where possible** — hash-threshold assignment is a pure
  per-row column expression (no shuffle at all); exact-quota stratified
  sampling needs one shuffle on the stratum key (a per-stratum sort), the
  minimum any exact-count sample needs.

Hashing is md5 over a salted id (first 15 hex chars → 60-bit uint), the
same construction the similarity module uses for deterministic centroid
sampling, so every assignment re-computes bit-exactly in the DuckDB
oracle: ``('0x' || substr(md5(...), 1, 15))::UBIGINT``.

Reference analogue: Marginalia partitions work by stable id hash
(code/common/model/java/nu/marginalia/model/id/UrlIdCodec.java assigns
documents stable ids precisely so downstream passes are reproducible);
split/sample semantics for LLM corpora follow the deterministic-holdout
practice of The Pile / Gopher / Dolma pipelines.
"""

from __future__ import annotations

import weakref
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HASH_BITS = 60  # 15 hex chars of md5 — fits signed int64 on the JVM
HASH_MOD = 1 << HASH_BITS


def _hash60(col: F.Column, salt: str) -> F.Column:
    """Deterministic 60-bit uint from a salted id column (SQL twin:
    ``('0x' || substr(md5('<salt>:' || id), 1, 15))::UBIGINT``)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def hash_split(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    id_col: str = "doc_id",
    salt: str = "split-v1",
) -> DataFrame:
    """Assign every document to a named split by integer hash buckets.

    ``weights`` maps split name → integer weight; a document lands in
    split s when ``hash % total_weight`` falls in s's cumulative range
    (ranges follow the dict's insertion order). Pure column expression —
    no shuffle, no state, resumable by construction; adding a document
    never moves an existing one.
    """
    if weights is None:
        weights = {"train": 98, "val": 1, "test": 1}
    total = sum(weights.values())
    bucket = F.pmod(_hash60(F.col(id_col), salt), F.lit(total))
    expr = None
    lo = 0
    for name, w in weights.items():
        cond = bucket < F.lit(lo + w)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += w
    return docs.withColumn("split", expr)


def split_summary(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "split-v1",
) -> DataFrame:
    """Per-split audit aggregate: row count, byte volume, and an
    order-insensitive id checksum (sum of doc ids) — the manifest row a
    100-TB split job publishes so a resume can verify the assignment
    didn't drift."""
    return (
        hash_split(docs, weights, id_col=id_col, salt=salt)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(text_col)).alias("sum_len"),
            F.sum(id_col).alias("id_checksum"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    fraction: float,
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Exact-quota stratified sample: from each stratum, exactly
    ``ceil(fraction * stratum_size)`` documents, chosen as the smallest
    salted hashes (a deterministic total order uncorrelated with content).

    One shuffle (window partitioned by stratum, ordered by hash). Unlike
    a hash-threshold sample this hits the quota *exactly* per stratum —
    what eval-set construction needs — at the cost of the per-stratum
    sort. A skewed stratum (one language = 90% of the corpus) makes one
    window partition hot; at 100 TB, pre-aggregate per-stratum counts and
    fall back to threshold sampling for strata above a size cutoff (the
    quota error is negligible exactly when the stratum is huge).
    """
    h = _hash60(F.col(id_col), salt)
    w = Window.partitionBy(strata_col).orderBy("h", id_col)
    n = Window.partitionBy(strata_col)
    return (
        docs.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("quota", F.ceil(F.count("*").over(n) * F.lit(fraction)))
        .filter(F.col("rn") <= F.col("quota"))
        .drop("h", "rn", "quota")
    )


def temperature_mix(
    docs: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
    scale: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Temperature-scaled corpus mixing: from each stratum (language,
    source, quality bucket) keep ``min(n_s, ceil(scale * n_s^alpha))``
    documents — the deterministic batch analogue of the temperature-scaled
    multinomial sampling multilingual training mixes use (mC4 / XLM-R,
    alpha typically 0.3-0.7): alpha < 1 up-weights small strata relative
    to proportional sampling so head languages don't drown the tail.

    Selection within a stratum is the same smallest-salted-hash order as
    :func:`stratified_sample` (one window shuffle, content-uncorrelated,
    reproducible). At ``alpha == 0.5`` the quota uses ``sqrt`` — IEEE
    correctly-rounded, hence bit-identical in any engine (the DuckDB
    oracle path); other alphas use ``pow``, which libm only bounds to
    1 ulp, so cross-engine quota equality at exact ceil boundaries is not
    guaranteed there.
    """
    n = F.count("*").over(Window.partitionBy(strata_col))
    raw = (
        F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(alpha))
    )
    quota = F.least(n, F.ceil(F.lit(scale) * raw))
    w = Window.partitionBy(strata_col).orderBy("h", id_col)
    return (
        docs.withColumn("h", _hash60(F.col(id_col), salt))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("quota", quota)
        .filter(F.col("rn") <= F.col("quota"))
        .drop("h", "rn", "quota")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack-v1",
    n_buckets: int | None = None,
) -> DataFrame:
    """Concatenation sequence packing: lay every document out along one
    deterministic global token stream and cut it into training sequences
    of exactly ``budget`` tokens — the standard pretraining packing step
    (documents are concatenated in a fixed order and split at the context
    length; a document may straddle two or more sequences).

    Returns ``(doc_id, n_tokens, seq_first, seq_last, seq_offset)``:
    the first/last sequence index the document's tokens land in and its
    token offset inside ``seq_first``. The global order is (salted 60-bit
    hash, id) — content-uncorrelated and reproducible, like every other
    assignment in this module. Token counts are whitespace tokens (the
    ``text_token_counts`` ``ws_tokens`` definition, so one spec is shared
    with the oracle).

    This is the count→offset prefix sum the reference computes when
    laying out posting lists (SURVEY §2 W1,
    code/index/index-reverse/java/nu/marginalia/index/construction/full/
    FullPreindexWordSegments-style offset construction) — implemented as
    the textbook two-pass distributed scan rather than a single-partition
    window:

    1. rows bucket by fixed hash ranges (``pid = h // ceil(2^60 / P)`` —
       a pure projection, deterministic, balanced because the hash is
       uniform; NOT ``repartitionByRange``, whose sampled boundaries are
       not reproducible);
    2. pass 1 aggregates per-bucket token totals (P rows to the driver —
       bytes, not data) and exclusive-scans them into bucket offsets;
    3. pass 2 shuffles once on the bucket key, sorts within partitions,
       and streams a vectorized cumulative sum per bucket seeded at that
       bucket's offset (``mapInPandas`` — state is one counter per
       bucket, O(1) memory).

    Every document's absolute token position — and hence every sequence
    boundary — is exact, while no stage ever sees more than one bucket's
    rows in order. The relation is scanned twice (narrow projection:
    id, hash, count); at 100 TB persist the projection between passes.
    """
    P = n_buckets or docs.sparkSession.sparkContext.defaultParallelism
    width = -(-HASH_MOD // P)  # ceil → pid < P
    toks = F.size(
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        )
    ).cast("long")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _hash60(F.col(id_col), salt).alias("h"),
        toks.alias("tok"),
    ).withColumn("pid", F.expr(f"h DIV {width}"))

    totals = {
        r["pid"]: r["t"]
        for r in base.groupBy("pid").agg(F.sum("tok").alias("t")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]

    B = budget

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run = dict(offsets)
        for pdf in it:
            tok = pdf["tok"].to_numpy(dtype=np.int64)
            pid = pdf["pid"].to_numpy(dtype=np.int64)
            cum = np.empty(len(pdf), dtype=np.int64)
            # contiguous pid runs (rows arrive sorted by pid, h, id)
            starts = np.flatnonzero(np.r_[True, pid[1:] != pid[:-1]])
            bounds = np.r_[starts, len(pid)]
            for s, e in zip(bounds[:-1], bounds[1:]):
                p = int(pid[s])
                seg = tok[s:e]
                cs = np.cumsum(seg)
                cum[s:e] = run[p] + cs - seg
                run[p] += int(cs[-1]) if len(seg) else 0
            last = cum + np.maximum(tok - 1, 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": tok,
                    "seq_first": cum // B,
                    "seq_last": last // B,
                    "seq_offset": cum % B,
                }
            )

    return (
        base.repartition(P, "pid")
        .sortWithinPartitions("pid", "h", "doc_id")
        .mapInPandas(
            scan,
            schema="doc_id long, n_tokens long, seq_first long, "
            "seq_last long, seq_offset long",
        )
    )


def epoch_order(
    docs: DataFrame,
    seed: str = "epoch-0",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Deterministic global training-order permutation: assign every
    document a contiguous position ``0..N-1`` in a seeded pseudorandom
    order — the "shuffle the corpus before each epoch" step of a
    pretraining pipeline (vary ``seed`` per epoch for a fresh
    permutation). The order key is the salted 60-bit md5 hash this module
    uses everywhere (tiebreak: id), so the permutation is a pure function
    of (seed, id): re-runs, resumes, and different cluster sizes all
    produce the identical order, unlike ``orderBy(rand(seed))`` whose
    draw depends on the physical partitioning.

    Positions are exact and contiguous WITHOUT a global sort bottleneck —
    the same two-pass count→offset prefix sum as :func:`pack_sequences`
    (SURVEY §2 W1): rows bucket by fixed hash ranges (the bucket id is a
    PREFIX of the order key, so per-bucket order concatenated in bucket
    order IS the global order); pass 1 counts per bucket (``n_buckets``
    rows to the driver — bytes); pass 2 ranks within each bucket in
    parallel and adds the bucket's exclusive-scanned base offset via a
    broadcast join. All JVM-side: one shuffle (the bucket
    repartition), one per-bucket window sort, no Python. At 100 TB set
    ``n_buckets`` so a bucket (~N/n_buckets rows) sort fits an executor
    — e.g. 64k buckets for 10^12 turns.

    Returns ``(doc_id, pos)``. Oracle twin: a single
    ``row_number() OVER (ORDER BY hash, id) - 1`` — equivalent because
    bucket-major order equals hash order. A NULL id has no defined place
    in the permutation — the count pass detects one and raises rather
    than silently dropping or misplacing the row.
    """
    P = n_buckets or docs.sparkSession.sparkContext.defaultParallelism
    if P < 1:
        raise ValueError("need n_buckets >= 1")
    width = -(-HASH_MOD // P)  # ceil → pid < P
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _hash60(F.col(id_col), seed).alias("h"),
    ).withColumn("pid", F.expr(f"h DIV {width}"))

    counts = base.groupBy("pid").agg(F.count("*").alias("c"))
    raw = [(r["pid"], r["c"]) for r in counts.collect()]
    if any(pid is None for pid, _ in raw):
        raise ValueError(f"epoch_order: NULL {id_col} has no defined position")
    rows = sorted(raw)  # n_buckets rows — driver-sized by construction
    offsets, acc = [], 0
    for pid, c in rows:
        offsets.append((pid, acc))
        acc += c
    off = F.broadcast(
        docs.sparkSession.createDataFrame(offsets, "pid long, base long")
    )

    w = Window.partitionBy("pid").orderBy("h", "doc_id")
    return (
        base.repartition(P, "pid")
        .withColumn("rn", F.row_number().over(w))
        .join(off, "pid")
        .select(
            "doc_id",
            (F.col("base") + F.col("rn") - 1).cast("long").alias("pos"),
        )
    )


def _unpersist_on_gc(result: DataFrame, cached: DataFrame) -> None:
    """Release ``cached``'s storage when ``result`` is garbage collected.

    The safe middle ground between a bare ``persist`` (pins a cached
    dataset for the session per invocation — the r4-ADVICE leak) and
    ``localCheckpoint`` (reference-tracked, but truncates lineage, so an
    executor losing the blocks fails the job unrecoverably): persist
    lineage stays intact, so a release that fires while a derived
    DataFrame is still in use merely costs recomputation.
    """

    def _release(jdf=cached._jdf):
        try:
            jdf.unpersist(False)
        except Exception:  # noqa: BLE001 — JVM may already be gone at exit
            pass

    weakref.finalize(result, _release)


def length_buckets(
    docs: DataFrame,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact equal-count length bucketing (SQL ``ntile`` semantics) over
    the whitespace token count — the sorted-batching prep that cuts
    padding waste when sequences are batched by similar length
    (bucket 1 = shortest ``ceil(N/k)`` docs, … bucket k = longest).

    ``ntile`` needs every document's exact global rank in (token count,
    id) order; a window over an un-partitioned ORDER BY is a
    single-partition sort. Instead the rank decomposes exactly into
    three addends, none of which ever sorts more than one id-range of
    one token count:

    1. per-token-count base ranks — pass 1 aggregates per-``tok`` doc
       counts (cardinality ≤ max document length; a count relation, not
       data) and exclusive-scans them with a single-partition window
       over that tiny relation — declarative (no driver collect), read
       off the shared cached count relation, whose storage a GC
       finalizer on the returned DataFrame releases (recoverable:
       persist keeps lineage, unlike a checkpoint);
    2. within-``tok`` id-range offsets — each token-count group is
       subdivided into fixed id ranges (width from the corpus min/max
       id — deterministic aggregates, never sampled boundaries), and a
       tiny window over the (tok, range) COUNT relation (≤ n_subbuckets
       rows per group) exclusive-scans range offsets. This is what
       keeps a corpus where most documents share one length — e.g. the
       output of :func:`chunk_documents`, where most chunks are exactly
       ``max_tokens`` — from serializing into a single giant sort;
    3. a row_number window partitioned by (tok, range): every sort is
       one id-range of one length group, parallel across both.

    Returns ``(doc_id, n_tokens, bucket)`` with buckets 1-based and sizes
    matching SQL ntile exactly: the first ``N mod k`` buckets get
    ``N div k + 1`` rows, the rest ``N div k``.
    """
    if n_buckets < 1:
        raise ValueError("need n_buckets >= 1")
    # NULL text counts as the empty document (0 tokens) — the corpus may
    # legitimately carry them, and an undefined NULL length would sort
    # differently in Spark (NULLS FIRST) vs DuckDB (NULLS LAST)
    toks = F.size(
        F.filter(
            F.split(
                F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+",
            ),
            lambda t: t != "",
        )
    ).cast("long")
    spark = docs.sparkSession
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("tok")
    )

    S = spark.sparkContext.defaultParallelism
    # the text column prunes out of this scan — min/max/count touch ids only
    ext = base.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
        F.count("*").alias("n"), F.count("doc_id").alias("n_ids")
    ).first()
    n_total = ext["n"]
    if n_total == 0:
        return spark.createDataFrame(
            [], "doc_id long, n_tokens long, bucket long"
        )
    if ext["n_ids"] != n_total:
        raise ValueError(f"length_buckets: NULL {id_col} has no defined rank")
    lo = ext["lo"]
    width = max(1, (ext["hi"] - lo) // S + 1)

    sub = base.withColumn("sb", F.expr(f"(doc_id - {lo}) DIV {width}"))
    # persisted: the count relation (≤ distinct lengths × S rows — far
    # too wide to collect at scale, but trivial to cache) feeds BOTH
    # addend windows below; without the cache each would re-tokenize the
    # whole corpus. The cache is released by a GC finalizer on the
    # returned DataFrame (see below) — persist keeps lineage intact, so
    # even a premature release degrades to recomputation, never failure
    # (unlike localCheckpoint, whose truncated lineage an executor loss
    # cannot recompute), and the finalizer keeps it from pinning the
    # session (the r4-ADVICE leak).
    cnt = sub.groupBy("tok", "sb").agg(F.count("*").alias("c")).persist()
    # addend 1: per-tok base — exclusive prefix sum via a single-partition
    # window over the TOK-LEVEL count relation (one row per distinct
    # length), never over data rows
    tok_w = (
        Window.partitionBy(F.lit(0))
        .orderBy("tok")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tok_off = (
        cnt.groupBy("tok")
        .agg(F.sum("c").alias("tc"))
        .withColumn("base", F.coalesce(F.sum("tc").over(tok_w), F.lit(0)))
        .select("tok", "base")
    )
    # addend 2: within-tok id-range offsets — a window over the COUNT
    # relation (≤ S rows per tok group), never over data rows
    wo = Window.partitionBy("tok").orderBy("sb")
    sb_off = cnt.withColumn(
        "sb_base",
        F.coalesce(
            F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select("tok", "sb", "sb_base")

    k = n_buckets
    q, r = divmod(n_total, k)
    # addend 3: rank within one id-range of one length group
    w = Window.partitionBy("tok", "sb").orderBy("doc_id")
    ranked = (
        sub.join(sb_off, ["tok", "sb"])
        .join(F.broadcast(tok_off), "tok")
        # exact global 1-based rank in (tok, doc_id) order; integer DIV
        # below (never float /) so ranks near 10^12 can't round across a
        # bucket boundary
        .withColumn(
            "rn", F.col("base") + F.col("sb_base") + F.row_number().over(w)
        )
    )
    # SQL ntile: buckets 1..r take q+1 rows, buckets r+1..k take q
    split = r * (q + 1)
    tail = (
        F.expr(f"{r} + (rn - {split} - 1) DIV {q}") if q else F.lit(r - 1)
    )
    bucket = (
        F.when(F.col("rn") <= split, F.expr(f"(rn - 1) DIV {q + 1}"))
        .otherwise(tail)
        + 1
    )
    out = ranked.select(
        "doc_id",
        F.col("tok").alias("n_tokens"),
        bucket.cast("long").alias("bucket"),
    )
    _unpersist_on_gc(out, cnt)
    return out


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window chunking for context-window prep: split each
    document's whitespace token stream into chunks of ``max_tokens`` with
    ``overlap`` tokens of left-context carried into each subsequent chunk
    (stride = max_tokens − overlap).

    Chunk count is ``1`` when the doc fits, else
    ``(n − max_tokens + stride − 1) div stride + 1`` — the last chunk may
    be short but always contributes tokens no earlier chunk covered
    (never a fully-contained degenerate chunk). Empty docs emit no rows.

    Pure JVM: split → explode(sequence) → slice → array_join, a narrow
    per-row expansion with no shuffle (rows out > rows in). Deterministic,
    so the DuckDB twin (generate_series + list slicing) reproduces it
    verbatim.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = docs.select("doc_id", toks.alias("_toks")).withColumn(
        "_n", F.size(F.col("_toks"))
    )
    n_chunks = F.when(F.col("_n") <= max_tokens, F.lit(1)).otherwise(
        F.expr(f"(_n - {max_tokens} + {stride - 1}) div {stride}") + 1
    )
    exploded = base.filter(F.col("_n") > 0).select(
        "doc_id",
        "_toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
            "chunk_idx"
        ),
    )
    chunk = F.slice(
        F.col("_toks"), F.col("chunk_idx") * stride + 1, max_tokens
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
