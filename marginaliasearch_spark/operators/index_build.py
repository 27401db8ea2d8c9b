"""Inverted-index construction: journal → postings/lexicon/doc_stats.

Re-expresses the reference's whole construction pipeline
(``FullIndexConstructor`` → per-page ``FullPreindex`` → pairwise
``FullPreindex.merge`` → finalize into skip lists + B-tree,
``FullPreindex.java:76-228``) as one declarative Spark plan:

    journal (doc_id, term_id, tf, positions, doc_len)
      → join per-term df (lexicon) for block-max scores
      → repartitionByRange(P, term_id, doc_id)        # the global merge
      → sortWithinPartitions(term_id, doc_id)
      → mapInPandas(encode_blocks)                    # finalize: block codec
      → postings parquet (Iceberg in production)

Why this is the right Spark shape at 100 TB:

- **The shuffle IS the merge.** The reference's zero-RAM pairwise preindex
  merge exists because a single node can't hold the index; Spark's
  sort-merge shuffle with spill is the same external merge, already
  distributed and fault-tolerant.
- **Skew (north-rule requirement).** ``repartitionByRange(term_id, doc_id)``
  range-samples the *composite* key, so a head term (a stop-word present in
  ~every doc, SURVEY §8 risk 4) is automatically split across partitions at
  doc_id boundaries — range salting without an explicit salt column. Each
  split yields independent block rows (blocks of one term may come from many
  partitions; query-side decode unions them), so no second merge pass is
  needed. AQE skew-join splitting covers the df join.
- **Resumability (north-rule requirement).** Three checkpointed steps:
  (0) the journal staging table (tokenize+assembly paid once, committed via
  parquet ``_SUCCESS``), (1) doc/lexicon/corpus stats, (2) postings buckets
  — ``pmod(term_id, n_buckets)`` lineage units, each committing
  independently (parquet dir + manifest JSON with partition id, input
  snapshot, postings bytes, term count, elapsed), mirroring the reference's
  step-wise construction with persisted progress
  (``FullIndexConstructor.java:50-74`` CONSTRUCT → FINALIZE → FINISHED).
  A killed build resumes by skipping committed steps; outputs are
  byte-stable because every id derives from content hashes.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.blocks import (
    BLOCK_DOCS,
    POSTINGS_SCHEMA_LANG,
    encode_blocks,
)
from ..functions.scoring import tf_norm
from . import ingest


class IndexPaths:
    def __init__(self, root: str):
        self.root = root
        self.journal = os.path.join(root, "journal")
        self.postings = os.path.join(root, "postings")
        self.lexicon = os.path.join(root, "lexicon")
        self.doc_stats = os.path.join(root, "doc_stats")
        self.lexicon_lang = os.path.join(root, "lexicon_lang")
        self.prio = os.path.join(root, "prio")
        self.ngrams = os.path.join(root, "ngrams")
        self.tombstones = os.path.join(root, "tombstones")
        self.manifest_dir = os.path.join(root, "manifest")
        self.corpus_stats = os.path.join(root, "corpus_stats.json")

    def bucket_dir(self, b: int) -> str:
        return os.path.join(self.postings, f"part={b}")

    def manifest_file(self, b: int) -> str:
        return os.path.join(self.manifest_dir, f"part-{b}.json")


def _write_json_atomic(path: str, payload: dict):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _stem_lexicon(batches):
    from ..functions.stemmer import porter_stem

    for pdf in batches:
        pdf["stem"] = [porter_stem(t) for t in pdf["term"]]
        yield pdf


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    *,
    n_buckets: int = 4,
    block_docs: int = BLOCK_DOCS,
    partitions: int | None = None,
    input_snapshot_id: int = 0,
    fail_after_bucket: int | None = None,
    ranks: DataFrame | None = None,
) -> IndexPaths:
    """Full build: transcripts → journal → {postings, lexicon, doc_stats}.

    ``fail_after_bucket`` injects a crash after committing that many buckets
    (used by the kill/resume test). Re-running with the same ``root`` resumes.
    ``ranks``: optional (conv_id, rank) table stamped into doc-id high bits
    (see ingest.build_journal / ingest.conv_ranks_by_quality).
    """
    paths = IndexPaths(root)
    os.makedirs(paths.root, exist_ok=True)
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # Step 0 — journal staging table (resumable artifact: the expensive
    # tokenize+assembly shuffle is paid once and survives a crash; on a
    # cluster this is an Iceberg staging table / snapshot). The _SUCCESS
    # marker parquet leaves behind is the commit record.
    journal_done = os.path.exists(os.path.join(paths.journal, "_SUCCESS"))
    if not journal_done:
        shutil.rmtree(paths.journal, ignore_errors=True)  # clear torn write
        ingest.build_journal(transcripts, ranks=ranks).write.mode(
            "overwrite"
        ).parquet(paths.journal)
    journal = spark.read.parquet(paths.journal)

    # Step 1 — forward index + lexicon + corpus stats
    stats_done = os.path.exists(paths.corpus_stats)
    if not stats_done:
        ds = ingest.doc_stats(journal)
        ds.write.mode("overwrite").parquet(paths.doc_stats)
        # one job for global AND per-language corpus stats (grouping sets)
        lang_rows = (
            spark.read.parquet(paths.doc_stats)
            .groupBy("lang")
            .agg(F.count("*").alias("cnt"), F.sum("doc_len").alias("len_sum"))
            .collect()
        )
        doc_count = sum(r["cnt"] for r in lang_rows)
        avg_len = (
            sum(r["len_sum"] for r in lang_rows) / doc_count if doc_count else 0.0
        )
        terms = journal.filter(F.col("term").isNotNull())
        # ONE aggregation pass over the journal builds the per-language
        # lexicon (reference: one WordLexicon per language,
        # WordLexicon.java:34-41); the global lexicon then derives from the
        # tiny per-language result (vocab x langs rows) instead of a second
        # full journal shuffle — lang-scoped queries take df/IDF from the
        # per-language table so a multilingual corpus doesn't mix stats
        lexicon_lang = terms.groupBy("term_id", "term", "lang").agg(
            F.count("*").alias("df"), F.sum("tf").alias("ctf")
        )
        lexicon_lang.write.mode("overwrite").parquet(paths.lexicon_lang)
        lexicon = (
            spark.read.parquet(paths.lexicon_lang)
            .groupBy("term_id", "term")
            .agg(F.sum("df").alias("df"), F.sum("ctf").alias("ctf"))
        )
        # Porter-stem each lexicon entry at build time (O(vocab), the one
        # place per-string Python is proportionate) — the reference stems
        # every dictionary term for expansion (QueryExpansion.java:21;
        # TermFrequencyDict getTermFreqStemmed), and a stemmed lexicon
        # makes "variants of word w" one pushed-filter probe at query time
        lexicon = lexicon.mapInPandas(
            _stem_lexicon,
            schema="term_id long, term string, df long, ctf long, stem string",
        )
        lexicon.write.mode("overwrite").parquet(paths.lexicon)
        # block_docs is recorded so a merge can check that both sides share
        # one block geometry and a compaction re-encodes with it
        _write_json_atomic(
            paths.corpus_stats,
            {
                "doc_count": doc_count,
                "avg_len": avg_len,
                "block_docs": block_docs,
                "lang_doc_counts": {r["lang"]: r["cnt"] for r in lang_rows},
            },
        )

    # Step 2 — postings buckets (independently committed lineage units)
    lexicon_df = spark.read.parquet(paths.lexicon).select("term_id")
    terms = journal.filter(F.col("term").isNotNull())
    committed = 0
    for b in range(n_buckets):
        if os.path.exists(paths.manifest_file(b)):
            continue  # resume: bucket already committed
        t0 = time.time()
        bucket = terms.filter(F.pmod(F.col("term_id"), F.lit(n_buckets)) == b)
        # the idf factor is a per-term constant, so the block-max metadata
        # stores the idf-free tf-normalization max — no document-frequency
        # join in the build's shuffle path (query side multiplies by idf)
        scored = bucket.select(
            "term_id",
            "doc_id",
            "tf",
            "wtf_q4",
            "positions",
            "flags",
            "lang",
            tf_norm(
                F.col("tf").cast("double"), F.col("doc_len").cast("double")
            ).alias("tf_norm"),
        )
        # blocks are homogeneous in (term_id, lang) and the writer turns
        # lang into a partition directory: a lang-scoped query prunes whole
        # directories at the scan (the reference keeps one reverse index
        # per language); the range shuffle stays keyed on (term_id, doc_id)
        # so head-term skew splitting is unchanged. lang leads the sort so
        # encode_blocks sees each task's rows grouped by partition-dir key;
        # mapInPandas drops ordering metadata, so the dynamic-partition
        # writer still adds its own per-task sort — but over block rows
        # (~1/block_docs of the posting rows), which is cheap
        blocks = (
            scored.repartitionByRange(partitions, "term_id", "doc_id")
            .sortWithinPartitions("lang", "term_id", "doc_id")
            .mapInPandas(
                partial(encode_blocks, block_docs=block_docs),
                schema=POSTINGS_SCHEMA_LANG,
            )
        )
        out_dir = paths.bucket_dir(b)
        shutil.rmtree(out_dir, ignore_errors=True)  # clear torn write
        blocks.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
        # lineage metric: distinct terms in this bucket, from the (small)
        # lexicon rather than a rescan of the written postings
        term_count = lexicon_df.filter(
            F.pmod(F.col("term_id"), F.lit(n_buckets)) == b
        ).count()
        _write_json_atomic(
            paths.manifest_file(b),
            {
                "partition_id": b,
                "input_snapshot_id": input_snapshot_id,
                "postings_bytes": _dir_bytes(out_dir),
                "term_count": term_count,
                "elapsed_s": time.time() - t0,
                "status": "committed",
            },
        )
        committed += 1
        if fail_after_bucket is not None and committed >= fail_after_bucket:
            raise RuntimeError(f"injected failure after {committed} buckets")

    # Step 2.5 — priority tier: postings restricted to occurrences carrying
    # priority flags (system/tool turns), positions stripped — the analogue
    # of the reference's prio reverse index (doc-ids-only, record size 1,
    # PrioPreindex.java:130; "contains only docs where the term carries
    # priority flags", code/index/readme.md). A flag-gated query generates
    # candidates from this much smaller tier first (two-tier head union,
    # CombinedIndexReader.java:152-176).
    if not os.path.exists(os.path.join(paths.prio, "_SUCCESS")):
        shutil.rmtree(paths.prio, ignore_errors=True)
        prio = terms.filter(
            F.col("flags").bitwiseAND(F.lit(ingest.PRIORITY_FLAGS)) != 0
        ).select(
            "term_id",
            "doc_id",
            "tf",
            "wtf_q4",
            F.lit(b"").alias("positions"),
            "flags",
            "lang",
            tf_norm(
                F.col("tf").cast("double"), F.col("doc_len").cast("double")
            ).alias("tf_norm"),
        )
        (
            # ~25% of the data but FULL parallelism: fewer partitions than
            # cores would idle executors through the whole encode stage
            # (measured 2.7x instead of ~3.6x at the 1-vs-4 scaling cell)
            prio.repartitionByRange(
                max(1, partitions // 2), "term_id", "doc_id"
            )
            .sortWithinPartitions("lang", "term_id", "doc_id")
            .mapInPandas(
                # doc-id deltas gamma-coded where dense, like the reference
                # prio index (PrioDocIdsTransformer / EliasGammaCodec) —
                # adaptive split-stream layout, codecs.py gamma section
                partial(encode_blocks, block_docs=block_docs),
                schema=POSTINGS_SCHEMA_LANG,
            )
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(paths.prio)
        )
    return paths


def build_ngrams(
    spark: SparkSession,
    paths: IndexPaths,
    *,
    min_count: int = 2,
    max_n: int = 3,
) -> None:
    """Corpus-derived ngram lexicon: adjacent (2..max_n)-token windows of
    the journal with their corpus occurrence counts.

    The reference consults a separately-learned ``NgramLexicon`` during
    query-expansion segmentation
    (``code/functions/language-processing/java/nu/marginalia/segmentation/
    NgramLexicon.java``, used from ``QueryExpansion.java:187-228``); ours is
    derived from the indexed corpus itself — one positions explode plus one
    equi-join per ngram order, each a single (doc_id, pos) shuffle. Adjacency
    is over the tokenizer's position slots, so stopwords (which consume a
    slot but are not indexed) and turn breaks (+2 padding) break windows,
    exactly as the positional scorer sees them.

    Separate build step (like the reference's separately-learned lexicon):
    resumable via its own ``_SUCCESS`` marker; skipped when present.
    """
    from ..functions.codecs import decode_positions
    import numpy as np
    import pandas as pd

    if os.path.exists(os.path.join(paths.ngrams, "_SUCCESS")):
        return
    shutil.rmtree(paths.ngrams, ignore_errors=True)
    journal = spark.read.parquet(paths.journal).filter(
        F.col("term").isNotNull()
    )

    def explode_pos(batches):
        for pdf in batches:
            tfs = pdf["tf"].to_numpy().astype(np.int64)
            flat = decode_positions(b"".join(pdf["positions"].tolist()), tfs)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), tfs),
                    "term": np.repeat(pdf["term"].to_numpy(), tfs),
                    "pos": flat.astype(np.int64),
                }
            )

    tok = journal.select("doc_id", "term", "tf", "positions").mapInPandas(
        explode_pos, schema="doc_id long, term string, pos long"
    )
    cur = tok.select("doc_id", "pos", F.array("term").alias("ws"))
    outs = []
    for n in range(2, max_n + 1):
        nxt = tok.select(
            "doc_id",
            (F.col("pos") - F.lit(n - 1)).alias("pos"),
            F.col("term").alias("_w"),
        )
        cur = cur.join(nxt, ["doc_id", "pos"]).select(
            "doc_id",
            "pos",
            F.concat("ws", F.array("_w")).alias("ws"),
        )
        outs.append(
            cur.groupBy("ws")
            .count()
            .filter(F.col("count") >= min_count)
            .select(
                F.array_join("ws", " ").alias("key"),
                F.lit(n).alias("n"),
                F.col("count").alias("cnt"),
            )
        )
    from functools import reduce

    reduce(lambda a, b: a.unionByName(b), outs).write.mode(
        "overwrite"
    ).parquet(paths.ngrams)


def _link_partitioned_files(srcs: list[str], dst: str) -> None:
    """Compose several lang-partitioned parquet dirs into one by per-file
    symlinks (file names carry task UUIDs, so collisions don't occur); the
    dst gets a _SUCCESS marker iff any source was committed."""
    os.makedirs(dst, exist_ok=True)
    committed = False
    for si, src in enumerate(srcs):
        if not os.path.isdir(src):
            continue
        committed |= os.path.exists(os.path.join(src, "_SUCCESS"))
        for root_dir, _dirs, files in os.walk(src, followlinks=True):
            rel = os.path.relpath(root_dir, src)
            tgt_dir = dst if rel == "." else os.path.join(dst, rel)
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                os.makedirs(tgt_dir, exist_ok=True)
                link = os.path.join(tgt_dir, fn)
                if os.path.lexists(link):  # same file linked twice → rename
                    link = os.path.join(tgt_dir, f"m{si}-{fn}")
                os.symlink(os.path.abspath(os.path.join(root_dir, fn)), link)
    if committed:
        open(os.path.join(dst, "_SUCCESS"), "w").close()


def delete_convs(
    spark: SparkSession, root: str, conv_ids: list[str]
) -> int:
    """Tombstone whole conversations in a built index — deletion without a
    rebuild (the GDPR/right-to-be-forgotten path; the reference deletes
    documents only by re-ingesting a crawl without them and reconstructing,
    so tombstones + compaction is the online analogue).

    Appends (doc_id, conv_id) rows to ``<root>/tombstones``; the reader
    drops tombstoned documents inside its postings decode (results never
    contain them from the moment the append commits), while corpus/df
    statistics intentionally stay pre-deletion until ``compact_index``
    absorbs the tombstones — the same stale-ranking-until-reconstruction
    semantics the reference has between crawl re-ingests. Appending the
    same conversation twice is harmless (the reader dedups doc ids).

    Returns the number of documents tombstoned.
    """
    paths = IndexPaths(root)
    hits = (
        spark.read.parquet(paths.doc_stats)
        .filter(F.col("conv_id").isin(list(conv_ids)))
        .select("doc_id", "conv_id")
    )
    n = hits.count()
    if n:
        hits.coalesce(1).write.mode("append").parquet(paths.tombstones)
    return n


def merge_indexes(
    spark: SparkSession, base_root: str, delta_root: str, out_root: str
) -> IndexPaths:
    """Merge two built indexes into one WITHOUT re-scanning their corpora —
    the reference's preindex merge (SURVEY §2 J2/J3,
    code/index/index-reverse/java/nu/marginalia/index/construction/full/
    FullPreindex.java merge path) as an index-lifecycle operator: a crawl
    delta is indexed alone (small build) and then merged into the serving
    index, instead of rebuilding over the full corpus.

    Cost model — the whole point at 100 TB:

    - **postings + prio tiers are never read or rewritten.** Bucket
      directories enter the merged index by manifest composition (here:
      renumbered ``part=N`` symlinks + composed lineage manifests; on a
      cluster: an Iceberg/Delta snapshot listing both file sets). Blocks
      are self-contained and doc-disjoint between the two indexes, so the
      union of block rows IS the merged posting list; the reader's
      rarest-first/df-ordered plans never assumed one file per term.
    - **statistics re-aggregate additively** over vocab-sized tables:
      lexicon df/ctf add per (term, lang),
      corpus stats add (BM25 needs the merged N and df — adding them gives
      bit-identical scores to a from-scratch build, which the merge
      equality test pins).
    - doc_stats (one row per document) is the largest rewrite — linear in
      corpus DOCUMENTS, not posting rows.

    Caveats (documented, deliberate): block geometry is inherited, so a
    long merge chain accumulates small tail blocks per term — recompact by
    rebuilding a bucket when its manifest chain grows deep (same policy as
    the reference's periodic full reconstruction). The ngram lexicon merges
    additively, which undercounts windows whose per-side counts fell below
    the sides' ``min_count`` — merged segmentation is conservative, never
    wrong; build sides with ``min_count=1`` when exact merged counts matter.
    Doc ids must be disjoint (they are: content-hash-derived).
    """
    base, delta, out = IndexPaths(base_root), IndexPaths(delta_root), IndexPaths(out_root)
    os.makedirs(out.root, exist_ok=True)
    with open(base.corpus_stats) as f:
        bstats = json.load(f)
    with open(delta.corpus_stats) as f:
        dstats = json.load(f)
    if bstats.get("block_docs") != dstats.get("block_docs"):
        raise ValueError("merge requires identical block geometry")

    # postings: manifest composition (no data movement)
    os.makedirs(out.postings, exist_ok=True)
    os.makedirs(out.manifest_dir, exist_ok=True)
    pid = 0
    for src in (base, delta):
        for m in read_manifest(src):
            link = out.bucket_dir(pid)
            if os.path.lexists(link):
                os.unlink(link)
            os.symlink(
                os.path.abspath(src.bucket_dir(m["partition_id"])), link
            )
            mm = dict(m)
            mm["partition_id"] = pid
            mm["merged_from"] = os.path.abspath(src.root)
            _write_json_atomic(out.manifest_file(pid), mm)
            pid += 1
    _link_partitioned_files([base.prio, delta.prio], out.prio)

    # statistics: additive re-aggregation (vocab-sized, not postings-sized)
    spark.read.parquet(base.doc_stats).unionByName(
        spark.read.parquet(delta.doc_stats)
    ).write.mode("overwrite").parquet(out.doc_stats)
    (
        spark.read.parquet(base.lexicon_lang)
        .unionByName(spark.read.parquet(delta.lexicon_lang))
        .groupBy("term_id", "term", "lang")
        .agg(F.sum("df").alias("df"), F.sum("ctf").alias("ctf"))
        .write.mode("overwrite")
        .parquet(out.lexicon_lang)
    )
    (
        spark.read.parquet(base.lexicon)
        .unionByName(spark.read.parquet(delta.lexicon))
        .groupBy("term_id", "term", "stem")  # same term → same stem
        .agg(F.sum("df").alias("df"), F.sum("ctf").alias("ctf"))
        .select("term_id", "term", "df", "ctf", "stem")
        .write.mode("overwrite")
        .parquet(out.lexicon)
    )
    ng = [
        p.ngrams
        for p in (base, delta)
        if os.path.exists(os.path.join(p.ngrams, "_SUCCESS"))
    ]
    if ng:
        df = spark.read.parquet(ng[0])
        if len(ng) == 2:
            df = (
                df.unionByName(spark.read.parquet(ng[1]))
                .groupBy("key", "n")
                .agg(F.sum("cnt").alias("cnt"))
            )
        df.write.mode("overwrite").parquet(out.ngrams)
    # deletion tombstones survive the merge: the union of both sides'
    # masks keeps deleted docs invisible in the merged index too
    tb = [
        p.tombstones
        for p in (base, delta)
        if os.path.exists(os.path.join(p.tombstones, "_SUCCESS"))
    ]
    if tb:
        spark.read.parquet(*tb).write.mode("overwrite").parquet(
            out.tombstones
        )

    # corpus stats last = the merge's commit record
    n = bstats["doc_count"] + dstats["doc_count"]
    lang_counts: dict[str, int] = dict(bstats.get("lang_doc_counts", {}))
    for k, v in dstats.get("lang_doc_counts", {}).items():
        lang_counts[k] = lang_counts.get(k, 0) + v
    _write_json_atomic(
        out.corpus_stats,
        {
            "doc_count": n,
            "avg_len": (
                (
                    bstats["avg_len"] * bstats["doc_count"]
                    + dstats["avg_len"] * dstats["doc_count"]
                )
                / n
                if n
                else 0.0
            ),
            "block_docs": bstats["block_docs"],
            "lang_doc_counts": lang_counts,
            "merged_from": [
                os.path.abspath(base.root),
                os.path.abspath(delta.root),
            ],
        },
    )
    return out


def compact_index(
    spark: SparkSession,
    in_root: str,
    out_root: str,
    *,
    block_docs: int | None = None,
    partitions: int | None = None,
) -> IndexPaths:
    """Rewrite an index's posting tiers into freshly encoded blocks — the
    periodic recompaction a long ``merge_indexes`` chain needs (each merge
    inherits its sources' block geometry, so terms accumulate small tail
    blocks; the reference's analogue is its periodic full index
    reconstruction).

    The posting payloads are decoded back to rows (the same columnar
    ``decode_blocks`` kernel the query path uses), re-joined with doc_len
    to recompute tf_norm, and re-encoded through the BUILD's own
    ``encode_blocks`` shuffle — so a compacted index is byte-compatible
    with a from-scratch build's postings layout, block geometry is fully
    regenerated, and every symlink of a merged
    index is replaced by real files. Statistics tables copy through
    unchanged (compaction moves bytes, it must not change any statistic —
    the equality test pins query results before/after).
    """
    from functools import partial as _partial
    from functools import reduce as _reduce

    from ..functions.blocks import decode_blocks, decoded_schema
    from ..functions.codecs import segmented_delta, varbyte_encode_with_offsets

    src, out = IndexPaths(in_root), IndexPaths(out_root)
    with open(src.corpus_stats) as f:
        stats = json.load(f)
    if block_docs is None:
        block_docs = int(stats.get("block_docs", 4096))
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # both tiers are opened before anything is written: an unreadable tier
    # fails here, not after the full tier has been re-encoded into out_root
    sources = (
        ("full", read_postings(spark, src), None, True),
        ("prio", read_prio(spark, src), out.prio, False),
    )
    os.makedirs(out.root, exist_ok=True)
    doc_len = spark.read.parquet(src.doc_stats).select("doc_id", "doc_len")
    # deletion tombstones are ABSORBED here: tombstoned docs drop out of
    # every re-encoded posting block, doc_stats, and the recomputed
    # statistics below, and the output index carries no tombstone dir —
    # compact(delete(idx)) answers queries identically to an index built
    # from the corpus without those conversations (pinned in test_merge)
    tomb = None
    if os.path.exists(os.path.join(src.tombstones, "_SUCCESS")):
        tomb = spark.read.parquet(src.tombstones).select("doc_id").distinct()

    def _pos_blob(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            lists = pdf["positions"].tolist()
            counts = np.array([len(x) for x in lists], dtype=np.int64)
            if counts.sum():
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.uint64) for x in lists if len(x)]
                )
                starts = np.zeros(len(counts), dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                deltas = segmented_delta(flat, starts)
                enc, offs = varbyte_encode_with_offsets(deltas)
                bounds = np.zeros(len(counts) + 1, dtype=np.int64)
                np.cumsum(counts, out=bounds[1:])
                bb = offs[bounds]
                mv = memoryview(enc)
                blobs = [bytes(mv[bb[i] : bb[i + 1]]) for i in range(len(counts))]
            else:
                blobs = [b""] * len(counts)
            yield pd.DataFrame(
                {
                    "term_id": pdf["term_id"],
                    "doc_id": pdf["doc_id"],
                    "tf": pdf["tf"],
                    "wtf_q4": pdf["wtf_q4"],
                    "positions": blobs,
                    "flags": pdf["flags"],
                }
            )

    def _rows(tier_df, lang: str, with_positions: bool):
        cols = ["term_id", "n_docs", "doc_ids", "tfs", "wtfs", "flags",
                "min_doc", "max_doc"]
        if with_positions:
            cols.insert(4, "positions")
        dec = tier_df.select(*cols).mapInPandas(
            _partial(decode_blocks, with_positions=with_positions, with_wtf=True),
            schema=decoded_schema(with_positions, True),
        )
        if with_positions:
            rows = dec.mapInPandas(
                _pos_blob,
                schema="term_id long, doc_id long, tf int, wtf_q4 int, "
                "positions binary, flags int",
            )
        else:
            rows = dec.select(
                "term_id", "doc_id", "tf", "wtf_q4",
                F.lit(b"").alias("positions"), "flags",
            )
        if tomb is not None:
            rows = rows.join(F.broadcast(tomb), "doc_id", "left_anti")
        return (
            rows.join(doc_len, "doc_id")
            .withColumn(
                "tf_norm",
                tf_norm(F.col("tf").cast("double"), F.col("doc_len").cast("double")),
            )
            .withColumn("lang", F.lit(lang))
            .drop("doc_len")
        )

    for tier, source, out_dir, with_positions in sources:
        if source is None:
            continue
        langs = [r["lang"] for r in source.select("lang").distinct().collect()]
        parts = [
            _rows(source.filter(F.col("lang") == L), L, with_positions)
            for L in langs
        ]
        if not parts:
            continue
        allrows = _reduce(lambda a, b: a.unionByName(b), parts)
        blocks = (
            allrows.repartitionByRange(partitions, "term_id", "doc_id")
            .sortWithinPartitions("lang", "term_id", "doc_id")
            .mapInPandas(
                _partial(encode_blocks, block_docs=block_docs),
                schema=POSTINGS_SCHEMA_LANG,
            )
        )
        dest = out.bucket_dir(0) if tier == "full" else out_dir
        shutil.rmtree(dest, ignore_errors=True)
        blocks.write.mode("overwrite").partitionBy("lang").parquet(dest)
        if tier == "full":
            _write_json_atomic(
                out.manifest_file(0),
                {
                    "partition_id": 0,
                    "input_snapshot_id": stats.get("doc_count", 0),
                    "postings_bytes": _dir_bytes(dest),
                    "term_count": -1,
                    "status": "compacted",
                    "compacted_from": os.path.abspath(src.root),
                },
            )

    # statistics: copy through unchanged (parquet rewrite resolves links)
    # when there are no tombstones; with tombstones, doc_stats is filtered
    # and the lexicons/corpus stats are RECOMPUTED below so a compacted
    # index scores exactly like a fresh build over the surviving corpus.
    # ngrams always copy: like the reference's separately-learned
    # NgramLexicon, expansion segmentation stats refresh at re-ingest,
    # not at deletion.
    for attr in ("doc_stats", "lexicon", "lexicon_lang", "ngrams"):
        sdir = getattr(src, attr)
        if not os.path.exists(os.path.join(sdir, "_SUCCESS")):
            continue
        df = spark.read.parquet(sdir)
        if tomb is not None and attr == "doc_stats":
            df = df.join(F.broadcast(tomb), "doc_id", "left_anti")
        if tomb is not None and attr in ("lexicon", "lexicon_lang"):
            continue  # recomputed below from the re-encoded postings
        df.write.mode("overwrite").parquet(getattr(out, attr))
    if tomb is not None:
        # df/ctf over the SURVIVING postings — the same per-(term, lang)
        # aggregation the build performs on the journal (decoded posting
        # rows are journal rows: one per (doc, term)); term strings and
        # stems join through from the old lexicons
        outsrc = read_postings(spark, out)
        langs = [r["lang"] for r in outsrc.select("lang").distinct().collect()]
        parts = [
            outsrc.filter(F.col("lang") == L)
            .select(
                "term_id", "n_docs", "doc_ids", "tfs", "wtfs", "flags",
                "min_doc", "max_doc",
            )
            .mapInPandas(
                _partial(decode_blocks, with_positions=False, with_wtf=True),
                schema=decoded_schema(False, True),
            )
            .withColumn("lang", F.lit(L))
            for L in langs
        ]
        lexsrc = _reduce(lambda a, b: a.unionByName(b), parts)
        terms_of = (
            spark.read.parquet(src.lexicon_lang)
            .select("term_id", "term")
            .distinct()
        )
        new_ll = (
            lexsrc.groupBy("term_id", "lang")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("ctf"))
            .join(terms_of, "term_id")
            .select("term_id", "term", "lang", "df", "ctf")
        )
        new_ll.write.mode("overwrite").parquet(out.lexicon_lang)
        old_stem = spark.read.parquet(src.lexicon).select("term_id", "stem")
        (
            spark.read.parquet(out.lexicon_lang)
            .groupBy("term_id", "term")
            .agg(F.sum("df").alias("df"), F.sum("ctf").alias("ctf"))
            .join(old_stem, "term_id")
            .select("term_id", "term", "df", "ctf", "stem")
            .write.mode("overwrite")
            .parquet(out.lexicon)
        )
    new_stats = dict(stats)
    if tomb is not None:
        # same grouping-sets formula as the build's corpus stats
        lang_rows = (
            spark.read.parquet(out.doc_stats)
            .groupBy("lang")
            .agg(F.count("*").alias("cnt"), F.sum("doc_len").alias("len_sum"))
            .collect()
        )
        doc_count = sum(r["cnt"] for r in lang_rows)
        new_stats["doc_count"] = doc_count
        new_stats["avg_len"] = (
            sum(r["len_sum"] for r in lang_rows) / doc_count
            if doc_count
            else 0.0
        )
        new_stats["lang_doc_counts"] = {r["lang"]: r["cnt"] for r in lang_rows}
    new_stats["block_docs"] = block_docs
    new_stats["compacted_from"] = os.path.abspath(src.root)
    _write_json_atomic(out.corpus_stats, new_stats)
    return out


def read_manifest(paths: IndexPaths) -> list[dict]:
    out = []
    if os.path.isdir(paths.manifest_dir):
        for fn in sorted(os.listdir(paths.manifest_dir)):
            with open(os.path.join(paths.manifest_dir, fn)) as f:
                out.append(json.load(f))
    return out


def committed_buckets(paths: IndexPaths) -> list[str]:
    """The postings bucket directories a manifest names — the only ones a
    reader may read (a bucket without one is a torn write)."""
    return [paths.bucket_dir(m["partition_id"]) for m in read_manifest(paths)]


def read_postings(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    # basePath makes the nested part=N/lang=X directory structure resolve
    # as two partition columns while still reading ONLY committed buckets
    return spark.read.option("basePath", paths.postings).parquet(
        *committed_buckets(paths)
    )


def read_prio(spark: SparkSession, paths: IndexPaths) -> DataFrame | None:
    """The priority tier, or None when the index has none.

    Absent means no committed tier (no ``_SUCCESS``) or a committed tier
    with no parquet file, which is what a corpus with no flagged turns
    writes. Any other read error propagates: silently dropping an
    unreadable tier would lose every flag-gated hit, and ``compact_index``
    would then write an index with no tier at all."""
    if not os.path.exists(os.path.join(paths.prio, "_SUCCESS")):
        return None
    if not any(
        fn.endswith(".parquet")
        for _dir, _subdirs, files in os.walk(paths.prio, followlinks=True)
        for fn in files
    ):
        return None
    return spark.read.parquet(paths.prio)
