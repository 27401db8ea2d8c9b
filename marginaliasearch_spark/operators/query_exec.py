"""Query execution: top-k BM25 over the block-compressed postings tables.

Re-expresses the reference's 4-stage query pipeline
(``IndexQueryExecution.java:118-210``: Lookup → Deduplicate → Preparation →
Ranking) as one DataFrame DAG:

- **plan** (driver, = ``SearchContext`` + ``CombinedIndexReader.createQueries``):
  look up per-term document frequencies in the lexicon and pick each OR
  path's rarest term as its driver (``CombinedIndexReader.java:94-97,
  119-130`` — selectivity ordering is OURS to do). The driver reads the
  lexicon, the term bounds and block metadata straight from the parquet
  files through pyarrow, with no Spark job;
- **lookup** (= EntrySource + ReverseIndexRetainFilter): ONE filtered scan
  and ONE decode per posting tier reads every term the query names, then a
  ``groupBy(doc_id)`` pivot lays each term out as columns and keeps the
  docs where some OR path matched in full. The decode site follows the
  scan's summed lexicon df: a small scan's block rows are read through
  pyarrow and decoded on the driver, without a Spark job (the reference
  decodes in the process that plans the query); a big one runs as a
  ``mapInPandas`` stage. A block cut or budget is data (:class:`BlockCut`)
  that either scan applies as its filter. Either
  way the kernel drops the index's deletion tombstones, collected once per
  reader. When the other terms' lists are big, the rarest terms' doc ids
  are collected first and shipped to the decode, which skips blocks whose
  [min_doc, max_doc] window misses all of them (skip-list forward
  pointers; ``SkipListReader.tryRetainData``). A lone term with nothing
  else to read skips the pivot;
- **exclusion** (= ReverseIndexRejectFilter): an exclusion term is a pivot
  column of the same scan, kept only where it IS NULL; advisory and
  ``?priority`` terms are pivot columns too (IS NOT NULL, indicator);
- **ranking**: per-term BM25 partials as JVM column expressions, aggregated
  over the compiled query's OR-tree as max-over-paths of sum-along-path
  (``CompiledQueryAggregates.intMaxSumAggregateOfIndexes``), then the
  ascending ``normalize()`` transform (``IndexResultRankingService.java``);
- **select**: ``orderBy(score).limit(k)`` (Spark's TakeOrdered = the top-k
  heap, ``ResultPriorityQueue``) with an optional per-group result cap
  (``row_number`` window = per-domain cap, ``IndexQueryExecution.java:162-177``).

The time-budget / early-termination machinery (``IndexSearchBudget``) is
deliberately omitted: this is a batch engine; block-max metadata + parquet
min/max stats provide the scan pruning instead (SURVEY §2.6 O4 note).
"""

from __future__ import annotations

import json
import operator
import os
from dataclasses import dataclass, replace
from functools import cached_property, partial, reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.blocks import decode_blocks, decoded_schema
from ..functions.scoring import (
    FLAG_BM25_WEIGHT,
    bm25_partial,
    document_penalty,
    first_position_bonus,
    flags_partial,
    normalize,
    optional_group_bonus,
    proximity_bonus,
    verbatim_bonus,
)
from ..plans.parser import ParsedQuery, parse_query
from .index_build import IndexPaths, committed_buckets, read_postings, read_prio
from .ingest import PRIORITY_FLAGS, ROLE_FLAG


@dataclass(frozen=True)
class RankingParams:
    """Optional ranking features beyond the BM25 core.

    ``positional=True`` adds the reference's positional bonuses
    (first-position, verbatim phrase, proximity — SURVEY §5) to the raw
    score before normalization. Divergence note: the reference skips
    position lists longer than 16 entries inside its proximity scan
    (PhraseConstraintGroupList.java, a CPU guard for its row-at-a-time
    scorer); our vectorized kernel computes the exact min spread over all
    positions.

    ``flag_score=True`` adds the reference's second BM25 over flag-derived
    pseudo-counts (``score_bFlags``, IndexResultRankingService.java:139-141)
    at weight 0.5 — see scoring.flags_partial.

    ``penalties=True`` feeds the document bonus/penalty (short-doc +
    rank-bucket quality, scoring.document_penalty) into ``normalize``'s
    penalty argument (IndexResultRankingService.java:155-158) instead of 0.

    ``weighted_counts=True`` scores BM25 with the role-span-weighted count
    (system 2.5 / tool 1.25 / body 1.0 per occurrence — the reference's
    tag-span-weighted ``c``, UnorderedMatches :566-604) instead of the raw
    term frequency. Term presence/DF statistics are unchanged.

    ``temporal_bias='recent'|'old'`` adds the reference's temporal bias
    ``-|year - anchor| * weight`` to the document bonus
    (IndexResultRankingService.java:322-330; scoring.temporal_bias —
    anchored at the index's own max/min year for determinism).
    """

    positional: bool = False
    flag_score: bool = False
    penalties: bool = False
    weighted_counts: bool = False
    temporal_bias: str | None = None
    temporal_bias_weight: float = 5.0


def _min_spread_batch(
    out: np.ndarray,
    row_ids: list[int],
    seqs: list[np.ndarray],
    k: int,
) -> None:
    """Vectorized k-way min-spread for a bucket of rows sharing list
    count ``k`` (``seqs`` holds k arrays per row, row-major).

    The classic smallest-covering-window: with all (value, label) pairs of
    a row sorted by value, the best window ending at position g spans from
    ``m(g) = min over labels of last-occurrence(label) <= g``; the answer
    is ``min over g of vals[g] - vals[m(g)]``. Last-occurrence per label is
    one ``np.maximum.accumulate`` over the whole batch (row boundaries
    handled by comparing against the row's start offset — a stale index
    from a previous row is always below it), so the scan is O(k·N) numpy
    with no Python loop over positions (the reference bounds this scan
    per candidate too: SequenceOperations.java:195-230).
    """
    lens = np.fromiter((s.size for s in seqs), np.int64, count=len(seqs))
    vals = np.concatenate(seqs)
    labels = np.repeat(np.tile(np.arange(k), len(row_ids)), lens)
    rows = np.repeat(
        np.repeat(np.asarray(row_ids, dtype=np.int64), k), lens
    )
    order = np.lexsort((vals, rows))
    vals, labels, rows = vals[order], labels[order], rows[order]
    n = vals.size
    seg_mask = np.empty(n, dtype=bool)
    seg_mask[0] = True
    seg_mask[1:] = rows[1:] != rows[:-1]
    seg_starts = np.flatnonzero(seg_mask)
    idx = np.arange(n)
    row_start = np.maximum.accumulate(np.where(seg_mask, idx, 0))
    m = np.full(n, n, dtype=np.int64)
    valid = np.ones(n, dtype=bool)
    for lab in range(k):
        last = np.maximum.accumulate(np.where(labels == lab, idx, -1))
        valid &= last >= row_start
        np.minimum(m, last, out=m)
    big = np.iinfo(np.int64).max
    spread = np.where(valid, vals - vals[np.clip(m, 0, n - 1)], big)
    per_row = np.minimum.reduceat(spread, seg_starts)
    res = np.where(per_row == big, 0, per_row)
    out[rows[seg_starts]] = np.maximum(res, 0)


def _min_spread_kernel(lists: pd.Series) -> pd.Series:
    """Smallest max-min spread picking one value per sub-list (inputs are
    already order-adjusted by the term's query index). 0 when any list is
    missing/empty or fewer than 2 lists — callers treat 0 as "no bonus"
    (SequenceOperations.minDistance semantics).

    Python touches each row only to validate shape and collect sub-array
    references; all position-level work is batched numpy
    (``_min_spread_batch``) — no per-row sliding-window loop.
    """
    out = np.zeros(len(lists), dtype=np.int32)
    buckets: dict[int, tuple[list[int], list[np.ndarray]]] = {}
    for r, ls in enumerate(lists):
        if ls is None or len(ls) < 2:
            continue
        seqs = [
            np.asarray(l, dtype=np.int64) for l in ls if l is not None and len(l)
        ]
        if len(seqs) != len(ls):
            continue
        rows_b, seqs_b = buckets.setdefault(len(ls), ([], []))
        rows_b.append(r)
        seqs_b.extend(seqs)
    for k, (row_ids, seqs) in buckets.items():
        _min_spread_batch(out, row_ids, seqs, k)
    return pd.Series(out)


def _min_spread_udf(col: F.Column) -> F.Column:
    # pandas_udf is created lazily — the decorator needs an active session
    return F.pandas_udf(_min_spread_kernel, "int")(col)

# Candidate sets up to this size are collected to the driver and shipped to
# decode kernels for block pruning (the reference streams 512-id batches
# through skip lists; our batch analogue prunes whole blocks). Above it we
# fall back to a shuffle semi-join, which is what a 10^12-turn corpus needs
# for stop-word-ish terms anyway.
MAX_DRIVER_CANDIDATES = 2_000_000

# A term whose postings are smaller than this joins faster than the extra
# driver-collect job that block pruning costs; above it, pruning pays.
PRUNE_DF_THRESHOLD = 50_000

# A tier scan whose terms' summed lexicon df is at most this is decoded on
# the driver: pyarrow reads its block rows straight from the parquet files
# (no Spark job) and ``decode_blocks`` runs in-process, instead of in a
# ``mapInPandas`` stage whose Python worker start-up (~130 ms per task)
# outweighs a small decode. Measured crossover (4 vCPUs, local[4], 250k-doc
# index; decode + count, median of 5): at summed df 10k / 50k / 200k / 1M
# the driver took 0.26 / 0.32 / 0.80 / 3.61 s and mapInPandas 0.40 / 0.41 /
# 0.42 / 0.62 s; at 60k mapInPandas already won (0.43 against 0.54 s).
# The same bound gates ``run_query_wand``: a query whose live terms sum to
# at most this much df is decoded whole on the driver in tens of ms, less
# than the threshold pass that would prune it costs.
DRIVER_DECODE_MAX_DF = 50_000


@dataclass(frozen=True)
class BlockCut:
    """The blocks of one term a scan keeps, as data: those whose
    ``max_tf_norm`` is at least ``min_tf_norm`` (a block-max WAND cut) and,
    when ``min_docs`` is set, whose ``min_doc`` is one of them (a block
    budget, :meth:`IndexReader.block_budget`). :func:`_block_predicate`
    turns it into a Spark column for the executor-site scan and into an
    Arrow filter for the driver's fetch."""

    min_tf_norm: float | None = None
    min_docs: frozenset[int] | None = None

    def predicate(self, field):
        conds = []
        if self.min_tf_norm is not None:
            conds.append(field("max_tf_norm") >= self.min_tf_norm)
        if self.min_docs is not None:
            conds.append(field("min_doc").isin(sorted(self.min_docs)))
        return reduce(operator.and_, conds)


def _block_predicate(field, term_ids, block_filter, lang):
    """The block rows of ``term_ids`` as one predicate over ``field``
    (``F.col`` for a Spark scan, ``pyarrow.dataset.field`` for an Arrow
    one). The term_id test prunes parquet row groups via min/max stats
    (postings files are written sorted by term_id); a term in
    ``block_filter`` keeps only the blocks of its :class:`BlockCut` — one
    ``term_id = t AND ...`` disjunct each, so a ``max_tf_norm`` cut still
    reaches the scan's pushed filters. Postings are written partitioned by
    the doc's language, so ``lang`` prunes whole ``lang=...`` directories
    at the scan (the per-language reverse index of the reference)."""
    cut = sorted(t for t in (block_filter or {}) if t in term_ids)
    uncut = sorted(set(term_ids) - set(cut))
    tid = field("term_id")
    pred = [tid.isin(uncut)] if uncut else []
    pred += [(tid == t) & block_filter[t].predicate(field) for t in cut]
    pred = reduce(operator.or_, pred)
    if lang is not None:
        pred = pred & (field("lang") == lang)
    return pred


# Spark's parquet writer stores a CRC in every page header; checking it is
# the driver's stand-in for the ``.crc`` sidecar check Spark's local file
# system makes, so a flipped bit fails the read instead of decoding wrong
_PARQUET = ds.ParquetFileFormat(
    default_fragment_scan_options=ds.ParquetFragmentScanOptions(
        page_checksum_verification=True
    )
)


def _parquet_view(path: str, partitioning=None) -> ds.Dataset:
    """pyarrow view of one Spark-written parquet directory. Discovery skips
    the ``_``/``.`` files Spark skips (``_SUCCESS``, ``.crc``) and keeps every
    other file: an unreadable one fails the read that reaches it instead of
    silently dropping its rows, and a page whose CRC does not match fails
    it too."""
    return ds.dataset(
        path, format=_PARQUET, partitioning=partitioning, exclude_invalid_files=False
    )


# postings and the prio tier sit under lang=... directories
_LANG_DIRS = ds.partitioning(pa.schema([("lang", pa.string())]), flavor="hive")


def _collect_ids_u64(df: DataFrame, col: str = "doc_id") -> np.ndarray:
    """One long column → uint64 numpy array via an Arrow batch transfer.

    ``toArrow`` streams columnar batches straight into numpy — no
    per-row ``Row`` objects. At the 2M-id ``MAX_DRIVER_CANDIDATES`` cap the
    Row path burned seconds of driver CPU per query; this is the same plan
    with a ~10x cheaper driver step (measured in BASELINE.md)."""
    arr = df.toArrow().column(col).to_numpy(zero_copy_only=False)
    return np.asarray(arr, dtype=np.int64).astype(np.uint64)


class IndexReader:
    """Open handle on a built index (lexicon + postings + doc stats)."""

    def __init__(self, spark: SparkSession, paths: IndexPaths):
        self.spark = spark
        self.paths = paths
        self.postings = read_postings(spark, paths)
        self._buckets = committed_buckets(paths)
        self.lexicon = spark.read.parquet(paths.lexicon)
        self.doc_stats = spark.read.parquet(paths.doc_stats)
        # optional priority tier (flagged occurrences only, much smaller);
        # None when the corpus had no flagged turns — queries then fall
        # back to the full tier
        self.prio = read_prio(spark, paths)
        # deletion tombstones (index_build.delete_convs): results must
        # never contain these docs; stats stay pre-deletion until
        # compact_index absorbs them (stale-until-reconstruction, as the
        # reference between crawl re-ingests)
        self._year_range: tuple[int, int] | None = None
        self.tombstones = None
        if os.path.exists(os.path.join(paths.tombstones, "_SUCCESS")):
            # opened here, so an unreadable set fails the reader; its ids
            # are collected on first query (``deleted_ids``)
            self.tombstones = spark.read.parquet(paths.tombstones).select("doc_id")
        with open(paths.corpus_stats) as f:
            stats = json.load(f)
        self.n_docs = float(stats["doc_count"])
        # per-language doc counts + lexicon (reference: per-language
        # WordLexicon) — lang-scoped queries score with these
        self.lang_doc_counts = {
            k: float(v) for k, v in stats.get("lang_doc_counts", {}).items()
        }
        self.has_lexicon_lang = os.path.exists(
            os.path.join(paths.lexicon_lang, "_SUCCESS")
        )
        # optional corpus-derived ngram lexicon (expansion segmentation,
        # reference NgramLexicon analogue — built by index_build.build_ngrams)
        self.ngrams = (
            spark.read.parquet(paths.ngrams)
            if os.path.exists(os.path.join(paths.ngrams, "_SUCCESS"))
            else None
        )
        # actual block geometry of this index (older indexes predate the
        # stat; fall back to the build default) — sizes WAND probe budgets
        from ..functions.blocks import BLOCK_DOCS

        self.block_docs = int(stats.get("block_docs", BLOCK_DOCS))
        # driver-side memo of lexicon/bounds probes: a reader is pinned to
        # one immutable index snapshot, so these tiny lookups never change
        # — the Spark analogue of the reference keeping lexicon B-tree
        # pages hot in its buffer pool (a WAND query alone probes the
        # lexicon three times: wrapper + both phases)
        self._stats_cache: dict[tuple, tuple[int, int] | None] = {}
        self._df_cache: dict[tuple[str | None, int], int] = {}
        self._bounds_cache: dict[int, float | None] = {}
        self._views: dict[str, ds.Dataset] = {}
        self._searchset_cache: dict[str, DataFrame | None] = {}

    def _view(self, table: str) -> ds.Dataset:
        """pyarrow view of one index table ("lexicon", "lexicon_lang",
        "term_bounds", "prio" or "postings") for the driver's own reads —
        lexicon probes, term bounds, block budgets and driver-site block
        fetches — which start no Spark job. Opened on first use (so opening
        a reader pays nothing for it) and kept, like the snapshot. The
        postings view covers the committed buckets ``self.postings`` reads,
        merged-in symlinked buckets included."""
        if table not in self._views:
            if table == "postings":
                view = ds.dataset([_parquet_view(b, _LANG_DIRS) for b in self._buckets])
            elif table == "prio":
                view = _parquet_view(self.paths.prio, _LANG_DIRS)
            else:
                view = _parquet_view(getattr(self.paths, table))
            self._views[table] = view
        return self._views[table]

    def _lexicon_rows(self, col: str, values: list, lang: str | None) -> list[dict]:
        """(term, term_id, df) of the lexicon rows whose ``col`` is in
        ``values`` — of one language's lexicon when ``lang`` is set."""
        pred = ds.field(col).isin(values)
        table = "lexicon"
        if lang is not None:
            table, pred = "lexicon_lang", pred & (ds.field("lang") == lang)
        return (
            self._view(table)
            .to_table(columns=["term", "term_id", "df"], filter=pred)
            .to_pylist()
        )

    def search_set(self, name: str) -> DataFrame | None:
        """Persisted search set by name (RankingSearchSet load-at-query);
        None = missing or empty, which imposes NO constraint (the
        reference's contains() quirk, RankingSearchSet.java:73-82)."""
        from .searchset import load_search_set

        if name not in self._searchset_cache:
            try:
                self._searchset_cache[name] = load_search_set(
                    self.spark, self.paths.root, name
                )
            except ValueError:
                # a user-typed set: name outside [a-z0-9_] (the write-path
                # traversal guard) is just an unloadable set — the
                # reference treats those as no-constraint, never an error
                self._searchset_cache[name] = None
        return self._searchset_cache[name]

    @cached_property
    def deleted_ids(self) -> np.ndarray | None:
        """The tombstoned doc ids as a sorted uint64 array (the
        ``_collect_ids_u64`` contract), collected on first use and kept —
        the snapshot is immutable. Every decode drops them (the reject mask
        of ``decode_blocks``), so no query re-reads or re-joins the set.
        Empty without tombstones; None when more than
        ``MAX_DRIVER_CANDIDATES`` ids are deleted, in which case
        ``run_query`` anti-joins ``tombstones`` instead."""
        if self.tombstones is None:
            return np.empty(0, dtype=np.uint64)
        ids = _collect_ids_u64(self.tombstones.limit(MAX_DRIVER_CANDIDATES + 1))
        if ids.size > MAX_DRIVER_CANDIDATES:
            return None
        return np.unique(ids)

    @cached_property
    def _deleted_bc(self):
        """``deleted_ids`` as one Spark broadcast per reader, for the
        executor-side decodes."""
        return self.spark.sparkContext.broadcast(self.deleted_ids)

    @property
    def year_range(self) -> tuple[int, int]:
        """(min, max) document year in the index — the deterministic
        anchors for temporal-bias ranking (one tiny driver probe, memoized;
        the snapshot is immutable)."""
        if self._year_range is None:
            if "year" not in self.doc_stats.columns:
                raise ValueError(
                    "index predates the year stamp; rebuild to use "
                    "temporal_bias"
                )
            r = self.doc_stats.agg(
                F.min("year").alias("lo"), F.max("year").alias("hi")
            ).collect()[0]
            self._year_range = (int(r["lo"]), int(r["hi"]))
        return self._year_range

    def term_bounds(self, term_ids: list[int]) -> dict[int, float]:
        """term_id → global max tf-norm (score UB = idf * max_tf_norm) from
        the tiny term_bounds table — an IN filter read through pyarrow on
        the driver, the skip-list global-max analogue (SkipListReader block
        maxima).
        Memoized per reader (the snapshot is immutable)."""
        if not term_ids:
            return {}
        missing = [t for t in term_ids if t not in self._bounds_cache]
        if missing:
            rows = (
                self._view("term_bounds")
                .to_table(
                    columns=["term_id", "max_tf_norm"],
                    filter=ds.field("term_id").isin(missing),
                )
                .to_pylist()
            )
            found = {r["term_id"]: float(r["max_tf_norm"]) for r in rows}
            for t in missing:
                self._bounds_cache[t] = found.get(t)
        return {
            t: self._bounds_cache[t]
            for t in term_ids
            if self._bounds_cache[t] is not None
        }

    # --- planning -----------------------------------------------------
    def term_stats(
        self, words: list[str], lang: str | None = None
    ) -> dict[str, tuple[int, int]]:
        """word → (term_id, df); missing words absent (df=0).

        Driver-side lexicon probe (SearchContext.java:167-178 numHits) —
        an IN filter over the lexicon files read through pyarrow, tiny
        result, no Spark job. ``lang`` scopes df to one language's lexicon
        (a word unused in that language is 'missing' there, like the
        reference's per-language WordLexicon lookup). Memoized per (lang,
        word) — the snapshot is immutable, and one WAND query re-probes the
        same words three times.
        """
        if not words:
            return {}
        if lang is not None and not self.has_lexicon_lang:
            raise ValueError("index has no per-language lexicon")
        want = list(dict.fromkeys(words))
        missing = [w for w in want if (lang, w) not in self._stats_cache]
        if missing:
            rows = self._lexicon_rows("term", missing, lang)
            found = {r["term"]: (r["term_id"], r["df"]) for r in rows}
            for w in missing:
                self._stats_cache[(lang, w)] = found.get(w)
            for tid, df in found.values():
                self._df_cache[(lang, tid)] = df
        return {
            w: self._stats_cache[(lang, w)]
            for w in want
            if self._stats_cache[(lang, w)] is not None
        }

    def _scan_df(self, term_ids: list[int], lang: str | None) -> int:
        """Summed lexicon df of ``term_ids`` — the postings a scan of them
        can read at most. Usually memoized by :meth:`term_stats`; ids it
        never saw cost one lexicon probe."""
        if not self.has_lexicon_lang:
            lang = None
        missing = [t for t in term_ids if (lang, t) not in self._df_cache]
        if missing:
            rows = self._lexicon_rows("term_id", missing, lang)
            found = {r["term_id"]: r["df"] for r in rows}
            for t in missing:
                self._df_cache[(lang, t)] = found.get(t, 0)
        return sum(self._df_cache[(lang, t)] for t in term_ids)

    # --- posting access ------------------------------------------------
    def decode_term(
        self,
        term_id: int,
        candidates: np.ndarray | None = None,
        with_positions: bool = False,
        lang: str | None = None,
    ) -> DataFrame:
        """One term's postings → (doc_id, tf, flags[, positions]); the
        single-term form of :meth:`decode_terms`."""
        return self.decode_terms(
            [term_id],
            candidates=candidates,
            positions=[term_id] if with_positions else (),
            lang=lang,
        ).drop("term_id")

    def _tier_source(self, tier: str) -> str:
        """The table a tier reads: "prio", or "postings" (also when the
        index has no priority tier)."""
        return "prio" if (tier == "prio" and self.prio is not None) else "postings"

    def _blocks(
        self,
        term_ids: list[int],
        block_filter: dict[int, BlockCut] | None,
        tier: str,
        lang: str | None,
    ) -> DataFrame:
        """The block rows of ``term_ids`` in one tier as a Spark scan, for
        the executor-site decode (see :func:`_block_predicate`)."""
        source = getattr(self, self._tier_source(tier))
        if "lang" not in source.columns:
            lang = None
        return source.filter(_block_predicate(F.col, term_ids, block_filter, lang))

    def _fetch(
        self,
        term_ids: list[int],
        block_filter: dict[int, BlockCut] | None,
        tier: str,
        lang: str | None,
        columns: list[str],
    ) -> pa.Table:
        """``columns`` of the same block rows as :meth:`_blocks`, read on
        the driver through pyarrow — no Spark job. Row groups and ``lang=``
        directories are pruned by the same predicate."""
        pred = _block_predicate(ds.field, term_ids, block_filter, lang)
        return self._view(self._tier_source(tier)).to_table(columns=columns, filter=pred)

    def block_budget(
        self,
        term_ids: list[int],
        top_blocks: int | None = None,
        first_blocks: int | None = None,
        block_filter: dict[int, BlockCut] | None = None,
        tier: str = "full",
        lang: str | None = None,
    ) -> dict[int, BlockCut]:
        """Each term's block budget as a ``block_filter`` cut for
        :meth:`decode_terms`: ``top_blocks`` keeps its N highest-max_tf_norm
        blocks (the threshold-estimation phase of two-phase top-k),
        ``first_blocks`` its N lowest-doc-id blocks — with rank-stamped ids
        (functions/ids.py) those hold the best-quality documents, which is
        the reference's budgeted-scan semantics (IndexSearchBudget: a
        truncated scan is sound BECAUSE docID order is quality order).

        One driver-side read of the terms' block metadata (max_tf_norm,
        min_doc — never the payload) ranks each term's blocks and names the
        kept ones by their ``min_doc``, so the decode stays one plain scan
        at full parallelism. Blocks already cut by ``block_filter`` are
        ranked out first, and its ``max_tf_norm`` floors are kept.
        """
        meta = self._fetch(
            term_ids, block_filter, tier, lang, ["term_id", "max_tf_norm", "min_doc"]
        ).to_pandas()
        out = {}
        for t in term_ids:
            m = meta[meta["term_id"] == t]
            if top_blocks is not None:
                m = m.sort_values(
                    ["max_tf_norm", "min_doc"], ascending=[False, True]
                ).head(top_blocks)
            if first_blocks is not None:
                m = m.sort_values("min_doc").head(first_blocks)
            cut = (block_filter or {}).get(t, BlockCut())
            out[t] = replace(cut, min_docs=frozenset(m["min_doc"].tolist()))
        return out

    def decode_terms(
        self,
        term_ids: list[int],
        candidates: np.ndarray | None = None,
        positions: tuple[int, ...] | list[int] = (),
        with_wtf: bool = False,
        block_filter: dict[int, BlockCut] | None = None,
        tier: str = "full",
        lang: str | None = None,
    ) -> DataFrame:
        """Several terms' postings in ONE scan and ONE decode →
        (term_id, doc_id, tf, flags[, wtf_q4][, positions]), with the
        deleted docs dropped (unless there are too many to collect; see
        :attr:`deleted_ids`).

        The candidate array (sorted uint64) prunes blocks before decode.
        ``block_filter`` maps term_id → :class:`BlockCut` (a block-max WAND
        cut ``max_tf_norm >= c``, whose score upper bound idf * max_tf_norm
        cannot reach the current top-k threshold below it, or a
        :meth:`block_budget`). Only the ``positions`` terms decode their
        position lists; the other terms' rows carry null positions.

        The decode site follows the scan's size: up to
        ``DRIVER_DECODE_MAX_DF`` summed df, pyarrow reads the block rows and
        the driver decodes them, and the result is a local relation; above
        it, a ``mapInPandas`` stage decodes on the executors.
        """
        decoded = self._decode(
            term_ids, candidates, positions, with_wtf, block_filter, tier, lang
        )
        if isinstance(decoded, DataFrame):
            return decoded
        schema = decoded_schema(bool(set(positions) & set(term_ids)), with_wtf)
        if not decoded:
            return self.spark.createDataFrame([], schema)
        table = pa.Table.from_pandas(pd.concat(decoded), preserve_index=False)
        return self.spark.createDataFrame(table, schema)

    def decoded_ids(
        self,
        term_ids: list[int],
        candidates: np.ndarray | None = None,
        block_filter: dict[int, BlockCut] | None = None,
        tier: str = "full",
        lang: str | None = None,
    ) -> np.ndarray:
        """The doc ids of :meth:`decode_terms`' rows as a uint64 array (one
        entry per row). A driver-side decode hands its numpy output over
        directly; an executor-side one is collected through Arrow."""
        decoded = self._decode(term_ids, candidates, (), False, block_filter, tier, lang)
        if isinstance(decoded, DataFrame):
            return _collect_ids_u64(decoded.select("doc_id"))
        ids = [f["doc_id"].to_numpy() for f in decoded]
        return np.concatenate(ids).astype(np.uint64) if ids else np.empty(0, np.uint64)

    def _decode(
        self,
        term_ids: list[int],
        candidates: np.ndarray | None,
        positions: tuple[int, ...] | list[int],
        with_wtf: bool,
        block_filter: dict[int, BlockCut] | None,
        tier: str,
        lang: str | None,
    ) -> DataFrame | list[pd.DataFrame]:
        """The decode behind :meth:`decode_terms`: a ``mapInPandas``
        DataFrame (executor site), or the decoded frames (driver site)."""
        pos = sorted(set(positions) & set(term_ids))
        # column pruning into the parquet scan: the positions payload (the
        # widest column) is only read when the query needs positions, and
        # only the positions terms ship it to the decode
        cols = ["term_id", "n_docs", "doc_ids", "tfs", "flags", "min_doc", "max_doc"]
        if with_wtf:
            cols.insert(4, "wtfs")
        if pos:
            cols.insert(4, "positions")
        pos_subset = bool(pos) and len(pos) < len(set(term_ids))
        deleted = self.deleted_ids
        kernel = partial(decode_blocks, with_positions=bool(pos), with_wtf=with_wtf)
        if self._scan_df(term_ids, lang) <= DRIVER_DECODE_MAX_DF:
            batch = self._fetch(term_ids, block_filter, tier, lang, cols).to_pandas()
            if pos_subset:
                batch.loc[~batch["term_id"].isin(pos), "positions"] = None
            return list(kernel(iter([batch]), candidates=candidates, reject=deleted))
        if pos_subset:
            cols[cols.index("positions")] = F.when(
                F.col("term_id").isin(pos), F.col("positions")
            ).alias("positions")
        blocks = self._blocks(term_ids, block_filter, tier, lang).select(*cols)
        sc = self.spark.sparkContext
        fn = partial(
            kernel,
            # broadcasts, not closure captures: at the 2M-id cap an array
            # is 16 MB, shipped once per executor instead of once per task
            candidates=None if candidates is None else sc.broadcast(candidates),
            reject=self._deleted_bc if deleted is not None and deleted.size else None,
        )
        return blocks.mapInPandas(fn, schema=decoded_schema(bool(pos), with_wtf))


def _safe(word: str) -> str:
    """Column-name-safe token alias (terms may contain . - / : etc., which
    break unquoted column references)."""
    import zlib

    return f"w{zlib.crc32(word.encode()):08x}"


def _phrase_filter(cand: DataFrame, phrase: list[str]) -> DataFrame:
    """Adjacency constraint via JVM array expressions (no Python).

    A phrase t0..tm matches when some base position p has t_i at p+i for all
    i — the offset-shifted position intersection of the reference
    (``SequenceOperations.findIntersections``), expressed with
    ``filter``/``array_contains`` so it stays in whole-stage codegen.
    """
    base = F.col(f"pos_{_safe(phrase[0])}")
    cond = lambda p: reduce(  # noqa: E731
        lambda acc, i: acc
        & F.array_contains(F.col(f"pos_{_safe(phrase[i])}"), p + i),
        range(1, len(phrase)),
        F.lit(True),
    )
    return cand.filter(F.size(F.filter(base, cond)) > 0)


def run_query(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    group_cap: int | None = None,
    group_col: str = "conv_id",
    round_score_to: int | None = None,
    tie_break: F.Column | None = None,
    ranking: RankingParams | None = None,
    budget_blocks: int | None = None,
    lang: str | None = None,
    blocklist: DataFrame | None = None,
    safe_tier: int = 0,
    _driver_top_blocks: int | None = None,
    _driver_min_tf_norm: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k BM25 search. Returns (doc_id, conv_id, score, ...) ascending by
    the reference's normalized score (lower = better).

    ``tie_break``: optional column expression used instead of ``doc_id`` to
    break score ties deterministically (e.g. an external id recoverable from
    ``conv_id`` so results are comparable with an engine that does not know
    our hash-based doc ids).

    ``budget_blocks``: opt-in approximate mode — only the driver term's
    first N blocks in doc-id order are scanned (ignored on OR queries).
    With rank-stamped ids this is the reference's budgeted scan
    (IndexSearchBudget): truncation is sound because docID order is quality
    order, so the scanned prefix holds the best documents.
    """
    pq = parse_query(query) if isinstance(query, str) else query
    if lang is None:
        lang = pq.lang  # `lang:xx` query syntax; explicit param wins
    include_terms = pq.all_include_terms()
    phrase_terms = sorted({w for ph in pq.phrases for w in ph})
    # lang-scoped queries take df/N from that language's lexicon partition
    # and restrict candidates to its documents (per-language index surface)
    stats = reader.term_stats(
        include_terms + pq.exclude + pq.priority + pq.advice, lang=lang
    )
    n_corpus = (
        reader.lang_doc_counts.get(lang, 0.0) if lang is not None else reader.n_docs
    )

    # any required include term missing from the lexicon on an AND-only
    # query → empty result; OR paths drop the missing alternatives
    paths = pq.include.paths() if pq.include is not None else [[]]
    live_paths = [p for p in paths if all(w in stats for w in p)]
    def empty() -> DataFrame:
        return (
            reader.doc_stats.select("doc_id", "conv_id", "doc_len", "n_turns")
            .withColumn("score", F.lit(0.0))
            .limit(0)
        )

    if not live_paths or not include_terms:
        return empty()
    live_terms = sorted({w for p in live_paths for w in p} | set(phrase_terms))
    if any(w not in stats for w in live_terms):
        return empty()
    # an advisory term absent from the lexicon can match no document —
    # required-but-unranked semantics make the result empty up front
    if any(w not in stats for w in pq.advice):
        return empty()

    positional = ranking is not None and ranking.positional
    flag_score = ranking is not None and ranking.flag_score
    penalties = ranking is not None and ranking.penalties
    weighted = ranking is not None and ranking.weighted_counts
    need_pos = set(phrase_terms) | (set(live_terms) if positional else set())

    # role gate (in:system ...) → required flag mask per matched term
    gate_mask = 0
    for g in pq.gates:
        if g not in ROLE_FLAG:
            raise ValueError(f"unknown role gate 'in:{g}'")
        gate_mask |= ROLE_FLAG[g]
    # a gate within the priority flags runs entirely on the (much smaller)
    # priority tier: every gate-passing (doc, term) occurrence is flagged,
    # hence present there (two-tier head, CombinedIndexReader.java:152-176)
    prio_ok = (
        gate_mask != 0
        and (gate_mask & ~PRIORITY_FLAGS) == 0
        and reader.prio is not None
    )

    # conv: restrictions (F5 doc-range analogue): resolve conversation ids
    # to doc ids via the forward index (tiny driver probe) and seed the
    # postings decode with them — blocks outside the doc-id windows are
    # skipped undecoded (ReverseIndexRetainDocumentRangeFilter)
    conv_doc_ids: np.ndarray | None = None
    if pq.convs:
        conv_doc_ids = np.sort(
            _collect_ids_u64(
                reader.doc_stats.filter(F.col("conv_id").isin(pq.convs)).select(
                    "doc_id"
                )
            )
        )
        if conv_doc_ids.size == 0:
            return empty()

    # set:<name> search sets (RankingSearchSet membership): members resolve
    # to doc ids through the forward index and seed the decode like conv:
    # ranges (the reference holds the set in RAM, so the driver-side id
    # array honors the same size contract); a missing/empty set imposes no
    # constraint (contains() quirk). Oversized sets (beyond the candidate
    # cap) degrade to a distributed semi-join after the doc-stats join
    # instead of a driver collect.
    set_post_filters: list[DataFrame] = []
    for set_name in pq.sets:
        sdf = reader.search_set(set_name)
        if sdf is None:
            continue
        members = reader.doc_stats.join(
            F.broadcast(sdf), "conv_id", "left_semi"
        ).select("doc_id")
        # ONE job does both the size probe and the id fetch (a separate
        # count() would re-run the whole doc_stats semi-join): collect
        # cap+1 ids; more than cap rows back = oversized, degrade to the
        # distributed post-filter
        capped = _collect_ids_u64(members.limit(MAX_DRIVER_CANDIDATES + 1))
        if capped.size > MAX_DRIVER_CANDIDATES:
            set_post_filters.append(members)
            continue
        ids = np.sort(capped)
        if ids.size == 0:
            return empty()
        conv_doc_ids = (
            ids if conv_doc_ids is None else np.intersect1d(conv_doc_ids, ids)
        )
        if conv_doc_ids.size == 0:
            return empty()

    # ---- candidate generation: ONE postings scan per tier, then a pivot ----
    # Every term the query reads (include, phrase, exclusion, advisory and
    # priority) comes out of its tier in one filtered scan and one decode;
    # a groupBy(doc_id) pivot lays each term out as columns, so retain
    # (ReverseIndexRetainFilter), reject (ReverseIndexRejectFilter), advice
    # and priority lookups are IS NOT NULL / IS NULL tests on those columns
    # instead of one decode job and one join per term.
    excl = sorted({w for w in pq.exclude if w in stats})
    advice = sorted(set(pq.advice))
    prio_present = sorted({w for w in pq.priority if w in stats})
    lookups = set(excl) | set(advice) | set(prio_present)
    # a gated include term without positions reads the priority tier;
    # lookups always read the full tier
    live_tier = {
        w: "prio" if (prio_ok and w not in need_pos) else "full" for w in live_terms
    }
    legs: dict[str, set[str]] = {}
    for w in live_terms:
        legs.setdefault(live_tier[w], set()).add(w)
    if lookups:
        legs.setdefault("full", set()).update(lookups)
    # a live term whose rows a lookup also reads keeps all its blocks: a
    # block-max cut or a block budget would hide rows the lookup must see
    shared = {w for w in lookups if live_tier.get(w) == "full"}
    # a doc matching path p contains p's rarest term, so the drivers' doc
    # ids are a superset of every result; block budgets restrict only them
    drivers = sorted(
        {
            min(sorted(set(p) | need_pos), key=lambda w: (stats[w][1], w))
            for p in live_paths
        }
    )

    # per-tier block filters of the include terms whose blocks may be cut
    # or budgeted: min_tf_norm cuts apply to EVERY such term (block-max
    # pruning on each leg of an intersection, SkipListReader.java:87
    # tryRetainData + block max); block budgets only to the drivers, and
    # budget_blocks only on single-path queries
    first_blocks = budget_blocks if len(live_paths) == 1 else None
    cuts: dict[str, dict[int, BlockCut]] = {}
    for tier, words in legs.items():
        prunable = {w for w in words if live_tier.get(w) == tier and w not in shared}
        cuts[tier] = {
            stats[w][0]: BlockCut(min_tf_norm=c)
            for w, c in (_driver_min_tf_norm or {}).items()
            if w in prunable
        }
        budgeted = [stats[w][0] for w in drivers if w in prunable]
        if budgeted and (_driver_top_blocks is not None or first_blocks is not None):
            cuts[tier].update(
                reader.block_budget(
                    budgeted, _driver_top_blocks, first_blocks, cuts[tier], tier, lang
                )
            )

    # ship the drivers' doc ids to the decode kernel only when the other
    # terms' posting lists are big enough that block skipping pays for the
    # extra scan of the drivers (at small df the pivot is cheaper; at
    # head-term scale the pruning is the whole ballgame)
    cand_ids = conv_doc_ids
    drv_df = sum(stats[w][1] for w in drivers)
    rest_df = sum(stats[w][1] for w in (set(live_terms) | lookups) - set(drivers))
    if drv_df <= MAX_DRIVER_CANDIDATES and rest_df > PRUNE_DF_THRESHOLD:
        by_tier: dict[str, set[str]] = {}
        for w in drivers:
            by_tier.setdefault(live_tier[w], set()).add(w)
        ids = [
            reader.decoded_ids(
                sorted({stats[w][0] for w in words}),
                candidates=conv_doc_ids,
                block_filter=cuts[tier],
                tier=tier,
                lang=lang,
            )
            for tier, words in sorted(by_tier.items())
        ]
        cand_ids = np.unique(np.concatenate(ids))
    frames = []
    for tier, words in sorted(legs.items()):
        dec = reader.decode_terms(
            sorted({stats[w][0] for w in words}),
            candidates=cand_ids,
            positions=[stats[w][0] for w in need_pos & words],
            with_wtf=weighted,
            block_filter=cuts[tier],
            tier=tier,
            lang=lang,
        )
        if len(legs) > 1:
            dec = dec.withColumn("_tier", F.lit(tier))
        frames.append(dec)
    dec = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)

    # one live term and nothing else scanned: its rows ARE the candidates
    direct = len(live_terms) == 1 and not lookups

    def hit(w: str, tier: str) -> F.Column:
        on = F.col("term_id") == stats[w][0]
        return on & (F.col("_tier") == tier) if len(legs) > 1 else on

    def pick(w: str, col: str, tier: str) -> F.Column:
        return F.col(col) if direct else F.max(F.when(hit(w, tier), F.col(col)))

    cols = []
    for w in live_terms:
        t = live_tier[w]
        cols.append(pick(w, "tf", t).alias(f"tf_{_safe(w)}"))
        if weighted:
            cols.append(pick(w, "wtf_q4", t).alias(f"wtf_{_safe(w)}"))
        if gate_mask or flag_score:
            cols.append(pick(w, "flags", t).alias(f"flags_{_safe(w)}"))
        if w in need_pos:
            cols.append(pick(w, "positions", t).alias(f"pos_{_safe(w)}"))
    if direct:
        cand = dec.select("doc_id", *cols)
    else:
        for role, words in (("ex", excl), ("adv", advice), ("prio", prio_present)):
            cols += [
                F.max(F.when(hit(w, "full"), 1)).alias(f"{role}_{_safe(w)}")
                for w in words
            ]
        cand = dec.groupBy("doc_id").agg(*cols)

        # retain docs where at least one path matched in full (need_pos
        # terms are mandatory), no exclusion term and every advisory term
        # (AdviceTerm: required to match, excluded from ranking) matched
        def _path_present(p: list[str]) -> F.Column:
            return reduce(
                lambda a, w: a & F.col(f"tf_{_safe(w)}").isNotNull(),
                sorted(set(p) | need_pos),
                F.lit(True),
            )

        keep = reduce(lambda a, p: a | _path_present(p), live_paths, F.lit(False))
        for w in excl:
            keep = keep & F.col(f"ex_{_safe(w)}").isNull()
        for w in advice:
            keep = keep & F.col(f"adv_{_safe(w)}").isNotNull()
        cand = cand.filter(keep)

    # ---- role gate (F8): every matched include term must carry the flags ----
    if gate_mask:
        for w in live_terms:
            fc = F.col(f"flags_{_safe(w)}")
            cand = cand.filter(
                fc.isNull()
                | (fc.bitwiseAND(F.lit(gate_mask)) == F.lit(gate_mask))
            )

    # ---- phrase constraints ----
    for ph in pq.phrases:
        cand = _phrase_filter(cand, ph)

    # ---- doc metadata join + spec limits (ParamMatchingQueryFilter) ----
    cand = cand.join(reader.doc_stats, "doc_id")
    for members in set_post_filters:
        # corpus-scale search set: plain (shuffling) semi-join — correct at
        # any set size; the common dimension-sized case was already folded
        # into the decode seed above
        cand = cand.join(members, "doc_id", "left_semi")
    if reader.deleted_ids is None:
        # deleted docs are dropped inside every decode (BOTH WAND phases
        # run through here, so the phase-1 θ never counts one and the cut
        # stays sound after deletions); only a set too big to collect is
        # anti-joined instead
        cand = cand.join(reader.tombstones, "doc_id", "left_anti")
    if blocklist is not None and safe_tier >= 1:
        # tiered safety blocklist (NsfwDomainFilter.isBlocked, nsfw-filter/
        # .../domain/NsfwDomainFilter.java:64-74): filter level t blocks
        # every list row with tier <= t; 0 disables. Applied at the same
        # point as tombstones so both WAND phases mask identically and the
        # phase-1 θ never counts a blocked doc. The list is a vertex-sized
        # dim (the reference syncs ~10^4 rows from NSFW_DOMAINS hourly) —
        # broadcast anti-join, no shuffle of the candidate side.
        blocked = blocklist.where(F.col("tier") <= F.lit(safe_tier)).select(
            "doc_id"
        )
        cand = cand.join(F.broadcast(blocked), "doc_id", "left_anti")
    if lang is not None:
        cand = cand.filter(F.col("lang") == lang)
    if pq.convs_exclude:
        cand = cand.filter(~F.col("conv_id").isin(pq.convs_exclude))
    op_map = {">": "__gt__", "<": "__lt__", "=": "__eq__", ">=": "__ge__", "<=": "__le__"}
    for lim in pq.limits:
        # 'rank' filters on the quality bucket in the doc id's high bits —
        # the reference's RankTerm specification limit over the domain rank
        # (QueryFactory.java:151; ParamMatchingQueryFilter)
        col = {
            "turns": F.col("n_turns"),
            "len": F.col("doc_len"),
            "rank": F.shiftrightunsigned(F.col("doc_id"), 57),
            # YearTerm specification limit (QueryParser.java:229-231) over
            # the year stamped into doc stats at build time
            "year": F.col("year"),
        }[lim.field]
        cand = cand.filter(getattr(col, op_map[lim.op])(F.lit(lim.value)))

    # ---- scoring: per-term partials, max-over-paths of sum-along-path ----
    def partial_col(word: str):
        df_w = float(stats[word][1])
        if weighted:
            c = F.coalesce(
                F.col(f"wtf_{_safe(word)}").cast("double") / 4.0, F.lit(0.0)
            )
        else:
            c = F.coalesce(F.col(f"tf_{_safe(word)}").cast("double"), F.lit(0.0))
        return bm25_partial(
            c,
            F.col("doc_len").cast("double"),
            F.lit(df_w),
            n_corpus,
        )

    def flag_partial_col(word: str):
        df_w = float(stats[word][1])
        return flags_partial(
            F.coalesce(F.col(f"flags_{_safe(word)}"), F.lit(0)),
            F.lit(df_w),
            n_corpus,
        )

    path_sums = []
    for p in live_paths:
        terms_in_path = sorted(set(p))
        s = reduce(
            lambda a, w: a + partial_col(w), terms_in_path, F.lit(0.0)
        )
        if flag_score:
            # score_bFlags: the same max-over-paths aggregate over the
            # flag-derived pseudo-counts, at half the BM25 weight
            # (IndexResultRankingService.java:139-141)
            s = s + FLAG_BM25_WEIGHT * reduce(
                lambda a, w: a + flag_partial_col(w), terms_in_path, F.lit(0.0)
            )
        # a path only counts if every term matched (tf present)
        present = reduce(
            lambda a, w: a & F.col(f"tf_{_safe(w)}").isNotNull(), terms_in_path, F.lit(True)
        )
        path_sums.append(F.when(present, s).otherwise(F.lit(None)))
    raw = path_sums[0] if len(path_sums) == 1 else F.greatest(*path_sums)

    # ---- positional bonuses (first-position, verbatim, proximity — §5) ----
    if positional:
        # the "full group" = include terms in query appearance order
        ordered = [w for w in pq.ordered_include_terms() if w in stats]
        pos_of = {w: F.col(f"pos_{_safe(w)}") for w in ordered}
        first_pos = F.greatest(
            *[
                F.coalesce(F.element_at(pos_of[w], 1), F.lit(1))
                for w in ordered
            ],
            F.lit(1),
        )
        bonuses = first_position_bonus(first_pos)
        if len(ordered) >= 2:
            base = pos_of[ordered[0]]
            adj_cond = lambda p: reduce(  # noqa: E731
                lambda acc, i: acc
                & F.array_contains(pos_of[ordered[i]], p + i),
                range(1, len(ordered)),
                F.lit(True),
            )
            all_present = reduce(
                lambda a, w: a & pos_of[w].isNotNull(), ordered, F.lit(True)
            )
            phrase_cnt = F.when(
                all_present, F.size(F.filter(base, adj_cond))
            ).otherwise(F.lit(0))
            bonuses = bonuses + verbatim_bonus(phrase_cnt, len(ordered))
        if len(ordered) > 2:
            # NB: a two-arg lambda would be treated by F.transform as
            # (element, index) — build single-arg closures per term offset
            def _shift(i: int):
                return lambda p: p - F.lit(i)

            adjusted = F.array(
                *[
                    F.transform(pos_of[w], _shift(i))
                    for i, w in enumerate(ordered)
                ]
            )
            bonuses = bonuses + proximity_bonus(
                _min_spread_udf(adjusted), len(ordered)
            )
        # optional phrase-constraint groups (expansion segments): in-order
        # matches of the group's ORIGINAL words boost the score, scaled by
        # the group's share of the full query (reference optional-group
        # verbatim scoring; the mandatory groups are pq.phrases above)
        full_size = max(len(ordered), 1)
        for grp in pq.opt_phrases:
            # a group is scoreable only when EVERY word has decoded
            # positions (pos_<w> columns exist for need_pos terms only —
            # a lexicon word on no live path has no column and would make
            # the whole query fail to resolve)
            if (
                len(grp) < 2
                or not set(grp) <= need_pos
                or any(w not in stats for w in grp)
            ):
                continue
            gpos = {w: F.col(f"pos_{_safe(w)}") for w in grp}
            gbase = gpos[grp[0]]

            def _adj(words_):
                return lambda p: reduce(
                    lambda acc, i: acc
                    & F.array_contains(gpos[words_[i]], p + i),
                    range(1, len(words_)),
                    F.lit(True),
                )

            gpresent = reduce(
                lambda a, w: a & gpos[w].isNotNull(), grp, F.lit(True)
            )
            gcnt = F.when(
                gpresent, F.size(F.filter(gbase, _adj(grp)))
            ).otherwise(F.lit(0))
            bonuses = bonuses + optional_group_bonus(gcnt, len(grp), full_size)
        raw = raw + bonuses

    # priority terms: score bonus when present (reference multiplies by
    # exp(priorityTermAdjustment/5); our transcript analogue gives each
    # matched priority term a 1/5 exponent step)
    if prio_present:
        n_prio = reduce(
            lambda a, w: a
            + F.when(F.col(f"prio_{_safe(w)}").isNotNull(), 1.0).otherwise(0.0),
            prio_present,
            F.lit(0.0),
        )
        raw = raw * F.exp(n_prio / 5.0)

    t_bias = ranking.temporal_bias if ranking is not None else None
    if penalties and t_bias is None:
        # rank bucket lives in the doc id's high bits (ids.py layout)
        rank_col = F.shiftrightunsigned(F.col("doc_id"), 57)
        pen = document_penalty(F.col("doc_len").cast("double"), rank_col)
        scored = cand.withColumn("score", normalize(raw, pen))
    elif t_bias is not None:
        # the temporal term joins the same document-bonus sum the other
        # penalties live in (calculateDocumentBonus, then -min(0, bonus))
        if t_bias not in ("recent", "old"):
            raise ValueError(f"unknown temporal_bias {t_bias!r}")
        lo, hi = reader.year_range
        anchor = hi if t_bias == "recent" else lo
        from ..functions.scoring import document_bonus, temporal_bias

        bonus = temporal_bias(
            F.col("year"), anchor, ranking.temporal_bias_weight
        )
        if penalties:
            rank_col = F.shiftrightunsigned(F.col("doc_id"), 57)
            bonus = (
                document_bonus(F.col("doc_len").cast("double"), rank_col)
                + bonus
            )
        scored = cand.withColumn(
            "score", normalize(raw, -F.least(F.lit(0.0), bonus))
        )
    else:
        scored = cand.withColumn("score", normalize(raw))
    if round_score_to is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_score_to))

    # ---- per-group cap + global top-k (ascending: lower = better) ----
    tb = F.col("doc_id") if tie_break is None else tie_break
    if group_cap is not None:
        w = Window.partitionBy(group_col).orderBy(F.col("score").asc(), tb)
        scored = scored.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= group_cap
        ).drop("_rn")
    return (
        scored.orderBy(F.col("score").asc(), tb)
        .limit(k)
        .select("doc_id", "conv_id", "doc_len", "n_turns", "score")
    )


def keyword_positions(
    reader: IndexReader, results: DataFrame, terms: list[str]
) -> DataFrame:
    """Per-result keyword report: for each top-k result and query term,
    the term's first position and tf in that document — the reference
    decorates every search result with its keywords' scores/positions
    (DecoratedSearchResultItem.keywordScores, built from the same postings
    values the ranker consumed,
    code/index/java/nu/marginalia/index/results/IndexResultScoreCalculator
    .java keyword extraction).

    ``results`` is a run_query output (carries ``conv_id``). The top-k set
    is tiny, so its ids collect to the driver and prune each term's decode
    to the candidate blocks (the J5 candidate→values lookup); absent
    (doc, term) combinations produce no row, matching the reference's
    absent-keyword mask.
    """
    convs = [r["conv_id"] for r in results.select("conv_id").collect()]
    ds = reader.doc_stats.filter(F.col("conv_id").isin(convs)).select(
        "doc_id", "conv_id"
    )
    # decode_blocks' candidate contract: sorted uint64 (rank-stamped ids
    # can exceed int63, and the membership mask binary-searches)
    ids = np.sort(
        np.array([r["doc_id"] for r in ds.collect()], dtype=np.int64).astype(
            np.uint64
        )
    )
    stats = reader.term_stats(terms)
    outs = []
    for w in sorted(set(terms)):
        if w not in stats or not len(ids):
            continue
        dec = reader.decode_term(stats[w][0], candidates=ids, with_positions=True)
        outs.append(
            dec.select(
                "doc_id",
                F.lit(w).alias("term"),
                # runs are encoded ascending, so element 1 IS the first hit
                F.element_at("positions", 1).cast("long").alias("first_pos"),
                "tf",
            )
        )
    if not outs:
        return reader.spark.createDataFrame(
            [], "conv_id string, term string, first_pos long, tf long"
        )
    out = reduce(lambda a, b: a.unionByName(b), outs)
    return out.join(F.broadcast(ds), "doc_id").select(
        "conv_id", "term", "first_pos", "tf"
    )


def explain_scores(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    round_to: int = 6,
    **kw,
) -> DataFrame:
    """Per-result ranking-factor report — the reference's
    ``debugRankingFactors`` surface (``IndexResultRankingService`` records
    ``termScore.bm25`` per term plus the document bonus components;
    served through ``QueryDebugInterface``): the top-k results with one
    ``bm25_<term>`` column per include term (that term's BM25 partial in
    that document, rounded) alongside the final score.

    The top-k set is tiny, so its ids collect to the driver and prune
    each term's decode to candidate blocks (same J5 lookup as
    ``keyword_positions``); an absent (doc, term) pair explains as 0.0,
    matching a term that contributed nothing.
    """
    from ..functions.scoring import bm25_partial

    pq = parse_query(query) if isinstance(query, str) else query
    res = run_query(reader, pq, k=k, **kw)
    lang = kw.get("lang") or pq.lang
    terms = sorted(set(pq.all_include_terms()))
    stats = reader.term_stats(terms, lang=lang)
    n_corpus = (
        reader.lang_doc_counts.get(lang, 0.0)
        if lang is not None
        else reader.n_docs
    )
    ids = np.sort(
        np.array(
            [r["doc_id"] for r in res.select("doc_id").collect()],
            dtype=np.int64,
        ).astype(np.uint64)
    )
    out = res
    for w in terms:
        # readable factor column for plain words, hash-safe otherwise
        col = f"bm25_{w}" if w.isalnum() else f"bm25_{_safe(w)}"
        if w not in stats or not len(ids):
            out = out.withColumn(col, F.lit(0.0))
            continue
        dec = reader.decode_term(
            stats[w][0], candidates=ids, lang=lang
        ).select("doc_id", F.col("tf").alias(f"_tf_{_safe(w)}"))
        out = out.join(F.broadcast(dec), "doc_id", "left")
        partial = bm25_partial(
            F.coalesce(F.col(f"_tf_{_safe(w)}").cast("double"), F.lit(0.0)),
            F.col("doc_len").cast("double"),
            F.lit(float(stats[w][1])),
            n_corpus,
        )
        out = out.withColumn(
            col,
            F.round(
                F.when(F.col(f"_tf_{_safe(w)}").isNull(), 0.0).otherwise(
                    partial
                ),
                round_to,
            ),
        ).drop(f"_tf_{_safe(w)}")
    return out


def decorate_results(
    results: DataFrame, transcripts: DataFrame, n_turns: int = 1
) -> DataFrame:
    """Join top-k results back to the source transcripts for display — the
    reference's document-DB decoration join (docId → url/title/description,
    ``IndexQueryExecution.java:189-207``), carrying the same metadata its
    ``DecoratedSearchResultItem`` does: description (here: the first
    ``n_turns`` turns' text + opening role), ``pubYear`` (year of the first
    turn, the build's doc-year semantics), ``dataHash`` (a 60-bit content
    hash over the full conversation text), and ``wordsTotal`` (the indexed
    doc length, already on the result row).

    The (tiny) result set is broadcast into the transcript scan, so the
    big table is touched once with a semi-join — never the other way
    round; all decoration fields come out of ONE aggregation over the
    matched conversations.
    """
    hits = transcripts.join(
        F.broadcast(results.select("conv_id")), "conv_id", "left_semi"
    )
    full_sorted = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    snippets = hits.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("turn_idx") < n_turns,
                            F.struct("turn_idx", "text"),
                        )
                    )
                ),
                lambda s: s["text"],
            ),
            " ",
        ).alias("snippet"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.year(F.min("ts")).alias("pub_year"),
        F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.transform(full_sorted, lambda s: s["text"]), "\n"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("data_hash"),
    )
    out = results.join(F.broadcast(snippets), "conv_id", "left")
    if "doc_len" in results.columns:
        out = out.withColumn("words_total", F.col("doc_len").cast("long"))
    return out


def run_query_wand(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    **kw,
) -> DataFrame:
    """Two-phase block-max top-k (the north-star's block-max WAND,
    re-expressed for a batch engine) — EXACT same results as ``run_query``:

    - **phase 1** runs the normal pipeline with the term's postings
      restricted to its highest-``max_tf_norm`` blocks, yielding k valid
      result scores. The kth of them is a *lower bound* θ on the true kth
      best raw score (it is the kth best of a subset of the true candidate
      set, with every exclusion/limit filter applied).
    - **phase 2** re-runs the full pipeline with the scan predicate
      ``max_tf_norm >= θ / idf`` pushed to the postings parquet scan — any
      block whose score upper bound ``idf * max_tf_norm`` cannot reach θ is
      skipped via row-group column stats, undecoded. A doc only in skipped
      blocks has raw < θ ≤ true-kth-raw, so it cannot enter the top k.

    Eligible shapes: ANY include tree — single term, pure OR, pure AND,
    and mixed AND-of-OR (``( a | b ) c``, the expansion engine's default
    output shape). No phrases / priority / positional ranking / group cap;
    exclusions and spec limits are fine — both phases apply them
    identically.

    The general per-term cut (every enumerated OR-path's retain chain gets
    block-max skipping in the reference, ``CombinedIndexReader.java:86-203``
    + ``SkipListReader.java:87``): with ``UB_t = idf_t * global max
    tf-norm`` (term_bounds table) and ``UB(p) = Σ_{t∈p} UB_t``, a block of
    term t can hold a top-k doc only if SOME path p ∋ t could reach θ
    through it::

        idf_t * block_max_tf_norm >= θ - max_{p ∋ t} (UB(p) - UB_t)

    so the scan cut is ``max_tf_norm >= (θ - max_residual_t) / idf_t``.
    Soundness: if a doc's block is pruned on term t, then EVERY path
    containing t sums below θ for that doc; a doc whose true best path
    reaches θ therefore keeps that path un-pruned and scores exactly, and
    the multi-path pipeline's max-over-surviving-paths is its true score.
    Pure OR reduces to ``θ / idf_t`` (residual 0), pure AND to the single
    path's ``θ - Σ_{u≠t} UB_u`` — the previous special cases.

    When the caller rounds scores (``round_score_to``), θ is inverted from
    the kth score widened by half a rounding quantum — a doc just below
    the unrounded kth can round into a tie and win the deterministic
    tie-break, so the cut must keep it.

    Ineligible queries fall back to the plain pipeline, and so do queries
    whose live terms sum to at most ``DRIVER_DECODE_MAX_DF`` df: the
    driver decodes such a scan whole for less than phase 1 costs, and the
    results are the same either way. At 10^12-turn scale the cut is the
    difference between scanning a head term's full posting list and
    touching a handful of blocks.
    """
    import math

    pq = parse_query(query) if isinstance(query, str) else query
    include = pq.all_include_terms()
    paths = pq.include.paths() if pq.include is not None else []
    eligible = (
        len(include) >= 1
        and bool(paths)
        and not pq.phrases
        and not pq.priority
        and kw.get("group_cap") is None
        and (
            kw.get("ranking") is None
            or not (
                kw["ranking"].positional
                or kw["ranking"].flag_score
                or kw["ranking"].penalties
                or kw["ranking"].weighted_counts
                or kw["ranking"].temporal_bias is not None
            )
        )
    )
    if not eligible:
        return run_query(reader, pq, k=k, **kw)
    # lang-scoped queries are eligible too: idf/θ use the language's own
    # stats (as the scorer does), while the per-term upper bounds stay the
    # GLOBAL block maxima — an upper bound for any language slice, so the
    # cut is merely conservative
    lang = kw.get("lang")
    if lang is None:
        lang = pq.lang  # `lang:xx` query syntax (run_query does the same)
    try:
        stats = reader.term_stats(include, lang=lang)
    except ValueError:  # pre-lang index
        return run_query(reader, pq, k=k, **kw)
    n_corpus = (
        reader.lang_doc_counts.get(lang, 0.0) if lang is not None else reader.n_docs
    )
    live_paths = [p for p in paths if all(w in stats for w in p)]
    live = sorted({w for p in live_paths for w in p})
    if not live or n_corpus <= 0:
        return run_query(reader, pq, k=k, **kw)
    if sum(stats[w][1] for w in live) <= DRIVER_DECODE_MAX_DF:
        # the driver decodes the whole unpruned scan in tens of ms, less
        # than phase 1 (a query of its own) would cost to prune it
        return run_query(reader, pq, k=k, **kw)
    pure_or = all(len(set(p)) == 1 for p in live_paths)

    def idf_of(w: str) -> float:
        df_w = float(stats[w][1])
        return math.log(1.0 + (n_corpus - df_w + 0.5) / (df_w + 0.5))

    idfs = {w: idf_of(w) for w in live}
    if any(v <= 0 for v in idfs.values()):
        return run_query(reader, pq, k=k, **kw)
    # phase 1 — threshold from each term's best blocks, budgeted from the
    # index's ACTUAL block geometry (an index built with small blocks needs
    # proportionally more of them to cover k candidates)
    n_blocks = max(1, -(-2 * k // reader.block_docs))
    kw1 = {**kw, "round_score_to": None}
    probe = run_query(
        reader, pq, k=k, _driver_top_blocks=n_blocks, **kw1
    ).collect()
    if len(probe) < k:
        return run_query(reader, pq, k=k, **kw)  # tiny list: no cut possible
    kth_score = probe[-1]["score"]
    round_to = kw.get("round_score_to")
    if round_to is not None:
        # widen to the worst score that could still round-tie with the kth
        kth_score = round(kth_score, round_to) + 0.5 * 10.0 ** (-round_to)
    # relative epsilon guards the float round-trip through normalize() —
    # pruning may only ever be conservative
    theta_raw = (501.0 / (kth_score * kth_score) - 1.0) * (1.0 - 1e-9)
    if pure_or:  # includes the single-term case (residual would equal θ)
        cuts = {w: theta_raw / idfs[w] for w in live}
    else:
        bounds = reader.term_bounds([stats[w][0] for w in live])
        if any(stats[w][0] not in bounds for w in live):
            return run_query(reader, pq, k=k, **kw)
        ub = {w: idfs[w] * bounds[stats[w][0]] for w in live}
        ub_path = [sum(ub[w] for w in set(p)) for p in live_paths]
        cuts = {}
        for w in live:
            # the most forgiving path containing w sets its residual
            max_resid = max(
                ub_p - ub[w]
                for p, ub_p in zip(live_paths, ub_path)
                if w in p
            )
            residual = theta_raw - max_resid
            if residual > 0:
                cuts[w] = residual / idfs[w]
        if not cuts:
            return run_query(reader, pq, k=k, **kw)  # no pruning possible
    return run_query(reader, pq, k=k, _driver_min_tf_norm=cuts, **kw)


def run_query_page(
    reader: IndexReader,
    query: str | ParsedQuery,
    page: int = 1,
    page_size: int = 10,
    total_limit: int = 100,
    **kw,
) -> DataFrame:
    """Result pagination — the reference's ``IndexClient.executeQueries``
    slice (`code/index/api/java/nu/marginalia/index/api/IndexClient.java:
    167-175`): gather the ranked top ``total_limit`` (the query's
    ``resultsTotal`` budget), then return rows ``[(page−1)·page_size,
    …+page_size)`` of it; a page past the end is empty, page ≤ 1 starts
    at 0 (the reference's ``Math.max(0, …)``).

    Spark shape: the gather is the usual ``TakeOrderedAndProject``; the
    slice is ``GlobalLimit``+``Offset`` over the already-``total_limit``-
    sized relation — no extra shuffle, and deeper pages reuse the same
    plan. The gather goes through :func:`run_search`, so ``qs=wand`` in
    the query lets block-max pruning serve it for eligible shapes."""
    res = run_search(reader, query, k=total_limit, **kw)
    start = max(0, (page - 1) * page_size)
    return res.offset(start).limit(page_size)


def run_search(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    **kw,
) -> DataFrame:
    """Strategy-dispatching entry point — honors the query's ``qs=``
    execution-strategy override (``QueryParser.java:238`` QsTerm →
    ``QueryFactory.java:246-258`` parseQueryStrategy; the index applies a
    non-AUTO strategy via ``setQueryStrategy``, QueryFactory.java:214).

    Mapping (documented divergence: the reference's SENTENCE/TOPIC pick a
    positional-vs-topic scan; our two physical strategies are the plain
    decode pipeline and block-max WAND, which return EXACT-equal results):

    - ``qs=sentence`` / ``qs=plain`` → :func:`run_query`
    - ``qs=topic`` / ``qs=wand`` → :func:`run_query_wand` (falls back to
      the plain pipeline for shapes WAND can't prune, same results)
    - ``qs=rf_<role>`` → folded into the role gate by the parser
      (REQUIRE_FIELD_* analogue) — strategy stays AUTO
    - anything else → AUTO = plain pipeline (reference default)
    """
    pq = parse_query(query) if isinstance(query, str) else query
    if pq.strategy == "wand":
        return run_query_wand(reader, pq, k=k, **kw)
    return run_query(reader, pq, k=k, **kw)
