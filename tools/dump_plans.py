"""Dump formatted physical plans of the hot paths into EXPLAIN.md — the
evidence that filters reach the parquet scans (PushedFilters), projections
prune columns (ReadSchema), the top-k is TakeOrderedAndProject, and the
expression work stays in WholeStageCodegen.

Usage: python tools/dump_plans.py  (writes EXPLAIN.md at the repo root)
"""
import re
import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from marginaliasearch_spark.operators import query_exec
from marginaliasearch_spark.session import get_spark
from marginaliasearch_spark.sources.transcripts import documents_as_transcripts
from marginaliasearch_spark.operators.index_build import build_index, IndexPaths
from marginaliasearch_spark.operators.query_exec import (
    IndexReader,
    run_query,
    run_search,
)


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # normalize the per-run temp dir so regenerations are byte-stable
    # except for REAL plan changes (random /tmp suffixes otherwise churn
    # every file-index line and drown genuine diffs)
    return re.sub(r"/tmp/plans_idx_\w+", "/tmp/PLANS_TMP", buf.getvalue())


def main() -> None:
    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="plans_idx_")
    docs = documents_as_transcripts(spark, "/root/testdata/sf0.001")
    build_index(spark, docs, root, n_buckets=1)
    reader = IndexReader(spark, IndexPaths(root))

    sections = []
    # every scan of this small index would decode on the driver, which
    # leaves only a LocalTableScan in the plan; the query sections force the
    # executor-site decode, whose plan carries the postings scan itself
    driver_max_df = query_exec.DRIVER_DECODE_MAX_DF
    query_exec.DRIVER_DECODE_MAX_DF = -1
    q = run_query(reader, "customer query -slow len>20", k=10)
    sections.append(
        (
            "Top-k BM25 query (`customer query -slow len>20`, k=10)",
            "Executor-site decode (a scan over `DRIVER_DECODE_MAX_DF` "
            "summed df). "
            "Things to check: ONE postings `Scan parquet` + ONE `MapInPandas` "
            "for all three terms, the exclusion `slow` included, with "
            "`PushedFilters: [In(term_id, [...])]` (row-group pruning via "
            "min/max stats on the term_id-sorted files); a single "
            "`HashAggregate`/`Exchange hashpartitioning(doc_id)` pivot whose "
            "`Filter` keeps `isnull(ex_...)` — no anti-join; `ReadSchema` "
            "carrying only the block columns the decode needs; the final "
            "`TakeOrderedAndProject` (= the reference's top-k heap); BM25 "
            "arithmetic inside `WholeStageCodegen` ranges.",
            fmt(q),
        )
    )
    query_exec.DRIVER_DECODE_MAX_DF = driver_max_df
    q_drv = run_query(reader, "customer query -slow len>20", k=10)
    query_exec.DRIVER_DECODE_MAX_DF = -1
    sections.append(
        (
            "Driver-site decode (`customer query -slow len>20`, k=10)",
            "The same query as it runs on this index: a scan of at most "
            "`DRIVER_DECODE_MAX_DF` summed df reads its block rows "
            "straight from the parquet files through pyarrow (no Spark "
            "job, while the query is planned) and decodes them on the "
            "driver. Things to check: the plan "
            "starts at a `LocalTableScan` of the decoded rows — no "
            "`MapInPandas`, no Python stage; the pivot, filters, doc-stats "
            "join and `TakeOrderedAndProject` are those of the "
            "executor-site plan above.",
            fmt(q_drv),
        )
    )
    q_or = run_query(reader, "( customer | batch ) query", k=10)
    sections.append(
        (
            "OR query (`( customer | batch ) query`, k=10)",
            "Things to check: exactly ONE postings `Scan parquet` + "
            "`MapInPandas` for all distinct terms (the shared term `query` "
            "is decoded once, not once per OR path), folded through a single "
            "`HashAggregate`/`Exchange hashpartitioning(doc_id)` pivot whose "
            "`Filter` ORs the per-path presence tests — one shuffle replaces "
            "the per-path join chains.",
            fmt(q_or),
        )
    )

    lang_scan = reader.decode_term(
        reader.term_stats(["customer"])["customer"][0], lang="en"
    )
    sections.append(
        (
            "Language-scoped postings decode (`customer`, lang='en')",
            "Postings are written under lang=... partition directories "
            "(blocks homogeneous in (term, language)); a lang-scoped decode "
            "shows the language under `PartitionFilters` — whole directories "
            "prune before any IO, the analogue of the reference's "
            "per-language reverse index (WordLexicon.java:34-41). The "
            "term_id equality stays in `PushedFilters` for row-group "
            "pruning inside the surviving partition.",
            fmt(lang_scan),
        )
    )

    from marginaliasearch_spark.operators import dedup, spell

    didx = spell.build_deletes_index(reader.lexicon.select("term", "ctf"))
    sugg = spell.suggest(spark, didx, ["custmer", "quer"], k=5)
    sections.append(
        (
            "Spell suggest (SymSpell deletes index, probes `custmer quer`)",
            "Things to check: the probe-variant side enters a "
            "`BroadcastHashJoin` (the deletes index is never shuffled), the "
            "exact-verify `levenshtein(...) <= 2` is folded into the join "
            "condition itself (false deletes-candidates die before the "
            "aggregate), and the per-probe top-k runs as `WindowGroupLimit` "
            "Partial → Final (rank pushdown, no full sort of the candidate "
            "set).",
            fmt(sugg),
        )
    )

    psugg = spell.prefix_suggest(
        reader.lexicon.select("term", "ctf"), ["cus", "quer", "slo"], k=5
    )
    sections.append(
        (
            "Typeahead prefix suggest (probes `cus quer slo`)",
            "Things to check: the tiny probe relation enters a "
            "`BroadcastHashJoin` on the capped-prefix equi-key (plen, key) "
            "— the lexicon is never shuffled for the match itself — the "
            "`StartsWith` long-probe fallback rides the join condition, and "
            "the per-probe top-k is `WindowGroupLimit` Partial → Final "
            "(map-side rank pushdown before the single probe-partition "
            "exchange).",
            fmt(psugg),
        )
    )

    spans = dedup.duplicate_spans(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(64),
        window=8,
    )
    sections.append(
        (
            "Duplicated-span dedup (8-token windows → islands merge)",
            "Things to check: ONE corpus-wide `Exchange hashpartitioning"
            "(whash)` for the repeated-window aggregate + its join back, "
            "then a single per-doc `Exchange hashpartitioning(doc_id)` "
            "feeding both `Window` (running-max islands) and the final "
            "span `HashAggregate` — the window hashing itself is pure "
            "codegen (`md5(concat_ws(...))` over array slices), no Python.",
            fmt(spans),
        )
    )

    from marginaliasearch_spark.operators import decontam, dsir, textstats

    raw_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    dsirw = dsir.importance_resample(
        raw_docs, F.col("source").isin("src0", "src1", "src2"), n=100
    )
    sections.append(
        (
            "DSIR importance resample (hashed-ngram weights → top-100)",
            "Things to check: the (doc, bucket) counts are ONE partial-"
            "first `HashAggregate` pair over pure codegen expressions "
            "(regex tokenize, zip_with bigrams, md5 bucket hash — no "
            "Python anywhere); the O(4096)-row log-ratio table enters a "
            "`BroadcastHashJoin` (the corpus-sized side never shuffles "
            "for it); the per-doc fold is one `ObjectHashAggregate` "
            "(collect_list) on doc_id; the final selection is "
            "`TakeOrderedAndProject`, not a global sort.",
            fmt(dsirw),
        )
    )

    from marginaliasearch_spark.operators import lm

    lm_pred = F.col("source").isin("src0", "src1", "src2")
    lmsc = lm.stupid_backoff_scores(
        raw_docs.filter(~lm_pred), raw_docs.filter(lm_pred)
    )
    sections.append(
        (
            "Stupid Backoff LM perplexity (CCNet-style quality gate)",
            "Things to check: adjacent-pair transitions are zip_with over "
            "the token array (no positions self-join — one scan per "
            "corpus); the bigram/unigram count tables meet the scored "
            "transitions through joins co-keyed on the ngram (at 100 TB "
            "these tables are vocabulary-sized, so the shuffle-hash-join "
            "shape is the point — AQE may broadcast them at test scale); "
            "count aggregations are partial-first `HashAggregate` pairs; "
            "the per-doc fold is one `ObjectHashAggregate` on doc_id.",
            fmt(lmsc),
        )
    )

    cont = decontam.contamination(raw_docs, shingle_width=3)
    sections.append(
        (
            "Decontamination (train/eval shingle overlap)",
            "Things to check: the split filter (a pure md5 projection on "
            "doc_id) sits BELOW each branch's shingle `MapInPandas`, so "
            "every document is tokenized+hashed exactly once — the eval "
            "branch shingles only the ~2% eval docs; the small eval shingle "
            "set meets the train side via `BroadcastHashJoin` (AQE) keyed "
            "on the 64-bit shingle hash, and the per-doc count is a "
            "partial-first `HashAggregate` pair (map-side combine).",
            fmt(cont),
        )
    )

    fc = textstats.filter_chain(raw_docs)
    sections.append(
        (
            "Composite filter chain (Gopher/C4 gates, one projection)",
            "Things to check: ONE `Scan parquet` with "
            "`ReadSchema: struct<doc_id,text>` and NO Exchange anywhere — "
            "the whole keep/drop + reason bitmask decision is a narrow "
            "per-row projection; `keep` is derived from the materialized "
            "`reasons` column in a second stacked Project (the "
            "twice-referenced non-cheap projection stops CollapseProject "
            "from duplicating the signal tree).",
            fmt(fc),
        )
    )

    rem = dedup.remove_duplicate_spans(raw_docs.limit(64))
    sections.append(
        (
            "Duplicated-span removal (spans joined back, positions excised)",
            "Things to check: the spans side (duplicate_spans output packed "
            "per doc) re-joins the tokenized corpus without an extra "
            "corpus-side Exchange beyond the span computation itself, and "
            "the position excision is a JVM `filter`/`exists` lambda inside "
            "Project — no Python in the removal step.",
            fmt(rem),
        )
    )

    # merged-index read: manifest-composed (symlinked) buckets must keep
    # partition pruning and pushed filters intact
    from marginaliasearch_spark.operators.index_build import merge_indexes
    from pyspark.sql import functions as _F

    mroot = tempfile.mkdtemp(prefix="plans_mrg_")
    half = _F.pmod(_F.xxhash64("conv_id"), _F.lit(2))
    build_index(spark, docs.filter(half == 0), os.path.join(mroot, "a"), n_buckets=1)
    build_index(spark, docs.filter(half == 1), os.path.join(mroot, "b"), n_buckets=1)
    mpaths = merge_indexes(
        spark, os.path.join(mroot, "a"), os.path.join(mroot, "b"),
        os.path.join(mroot, "out"),
    )
    mreader = IndexReader(spark, mpaths)
    mscan = mreader.decode_term(
        mreader.term_stats(["customer"])["customer"][0], lang="en"
    )
    sections.append(
        (
            "Merged-index lang-scoped decode (manifest-composed buckets)",
            "The merged index's postings are SYMLINKED bucket dirs from two "
            "source indexes (merge_indexes moves no posting bytes). Things "
            "to check: `PartitionFilters: [(lang = en)]` and the "
            "`PushedFilters` term_id equality survive the composition — "
            "the reader plans over part=N/lang=X partition columns exactly "
            "as over a from-scratch build.",
            fmt(mscan),
        )
    )

    from marginaliasearch_spark.operators import redact, similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    knn = similarity.knn_join(emb, k=3, dim=64, n_planes=6)
    sections.append(
        (
            "kNN join (every vector's top-3 neighbors, Hamming-1 multiprobe)",
            "Things to check: the candidate generation is ONE equi-join on "
            "the exploded probe-bucket key — no CartesianProduct / "
            "BroadcastNestedLoop anywhere (here AQE broadcasts the tiny "
            "sf0.001 right side; at scale the same plan becomes a shuffle "
            "join partitioned on `bucket`); the cosine arithmetic is JVM "
            "`zip_with`/`aggregate` inside Project; and the per-vector "
            "top-k shows `WindowGroupLimit` BEFORE the `Exchange "
            "hashpartitioning(_id_a)` — Spark's rank pushdown keeps only "
            "each partition's local top-k ahead of the shuffle, the "
            "map-side-combine analogue for the window.",
            fmt(knn),
        )
    )

    qemb = similarity.quantize_embeddings(emb)
    qtop = similarity.quantized_cosine_topk(qemb, [0.1] * 64, k=10)
    sections.append(
        (
            "int8-quantized cosine top-k (quantize → integer dot → top-10)",
            "Things to check: ONE `Scan parquet`, stacked `Project`s, "
            "`TakeOrderedAndProject` — no Exchange, no Python. The absmax "
            "fold and the integer dot/sumsq folds each appear EXACTLY ONCE "
            "(deliberate Project splits keep CollapseProject from re-nesting "
            "the d-element aggregate inside the per-element transform lambda "
            "— that collapse would be O(d²) per row). At rest the quantized "
            "table is 1/4 the scan bytes of float32.",
            fmt(qtop),
        )
    )

    from marginaliasearch_spark.operators import ranking

    pr_scores = ranking.pagerank(
        emb.select("vec_id"),
        similarity.knn_join(emb, k=3, dim=64, n_planes=6),
        iterations=1,
        id_col="vec_id",
        src_col="vec_id",
        dst_col="neighbor_id",
    )
    sections.append(
        (
            "integer PageRank — one iteration's update (links ⋈ scores → groupBy(dst))",
            "Things to check: the loop-invariant (src, dst, outdeg) relation "
            "and the per-round scores both enter from `Scan ExistingRDD` "
            "(localCheckpoint = truncated lineage, so N iterations cost N× "
            "THIS plan, not a 2^N lineage tree); one `SortMergeJoin`/"
            "`ShuffledHashJoin` on src + one `HashAggregate` pair "
            "(partial_sum before the `Exchange hashpartitioning(id)` — "
            "map-side combine on the in-edge sum); all arithmetic is "
            "bigint `div`/`*` inside WholeStageCodegen, no Python.",
            fmt(pr_scores),
        )
    )

    red = redact.redact_pii(raw_docs)
    sections.append(
        (
            "PII redaction (regex scrub + counts)",
            "Things to check: ONE `Scan parquet` (doc_id + text only in "
            "`ReadSchema`), zero `Exchange` nodes, and every regexp_count/"
            "regexp_replace inside a single `Project`/`WholeStageCodegen` "
            "span — a narrow map that partition-parallelizes untouched at "
            "any scale.",
            fmt(red),
        )
    )

    from marginaliasearch_spark.operators import classifier, topics

    vv = classifier.Vocabulary(classifier.DEFAULT_VOCAB)
    cls = classifier.classify_documents(
        raw_docs, vv, classifier.default_model(len(vv), mode="counted")
    )
    sections.append(
        (
            "MLP document classifier (counted features -> score/flag)",
            "Things to check: ONE `Scan parquet` with a 2-column "
            "`ReadSchema` (doc_id, text), then a single `MapInPandas` — "
            "zero `Exchange` nodes. The model weights ride the closure; "
            "rows out == rows in; the operator partition-parallelizes "
            "untouched at any corpus size (inference is embarrassingly "
            "parallel — training stays driver-side as in the reference).",
            fmt(cls),
        )
    )

    tp = topics.topic_scores(
        raw_docs,
        topics.SYNTH_TOPIC_TERMS,
        mode="decay",
        surface_stems={
            w: s
            for w in topics.SYNTH_CORPUS_VOCAB
            if (s := topics.porter_stem(w))
        },
    )
    sections.append(
        (
            "Topic detector (AdHoc decay mode, precomputed stem map)",
            "Things to check: a single `Project` over a 2-column scan — "
            "no Exchange, no Python at all: tokenize/stem-map/distinct/"
            "fold run as JVM higher-order array expressions. The one "
            "vocabulary-sized stem aggregation happens only when the "
            "surface map is derived from the corpus (not in this plan; "
            "an index build supplies the lexicon's stem column instead).",
            fmt(tp),
        )
    )

    from marginaliasearch_spark.operators import lm as lm_ops
    from marginaliasearch_spark.operators.keywords import tfidf_keywords
    from pyspark.sql import functions as FF

    kw = tfidf_keywords(raw_docs)
    sections.append(
        (
            "TF-IDF keyword flags (Arrow stemming, one df shuffle)",
            "Things to check: stemming is `ArrowEvalPython "
            "[stem_keyword_tokens(...)]` — the distributed per-worker-"
            "memoized Porter UDF; NOTHING vocabulary-sized reaches the "
            "driver (no create_map literal, no vocabulary collect) and "
            "per-document counting is a sorted run-length scan over "
            "materialized `_srt`/`_starts` columns (no Exchange of the "
            "corpus relation; explode is map-side). The only corpus "
            "`Exchange hashpartitioning(stem)` feeds the vocabulary-sized "
            "df aggregation (partial_count before it = map-side combine); "
            "the join back carries NO broadcast hint — at test scale AQE "
            "broadcast-converts it, at 10^8-stem scale it stays a "
            "co-keyed sort-merge join. The corpus is scanned twice — the "
            "reference's TermFrequencyExporter lifecycle; pass term_df to "
            "make it one scan.",
            fmt(kw),
        )
    )

    sb = lm_ops.stupid_backoff_scores(
        raw_docs.filter(~FF.col("source").isin("src0", "src1", "src2")),
        raw_docs.filter(FF.col("source").isin("src0", "src1", "src2")),
    )
    pbk = lm_ops.ppl_buckets(sb.select("doc_id", "ppl"))
    sections.append(
        (
            "CCNet perplexity tranches (distributed exact rank)",
            "Things to check: the rank `Window` is `partitionBy(_pid)` — "
            "NOT an empty partition spec, so no single-partition global "
            "sort; `RangePartitioning(ppl, doc_id)` distributes the order, "
            "per-partition offsets ride a literal map. At 10^12 rows this "
            "is one range shuffle + per-partition linear work.",
            fmt(pbk),
        )
    )

    from marginaliasearch_spark.operators.query_exec import run_query_page

    q_page = run_query_page(reader, "customer query", page=2, page_size=5,
                            total_limit=20)
    sections.append(
        (
            "Result pagination (IndexClient subList slice)",
            "Things to check: the gather is the SAME TakeOrderedAndProject "
            "as the unpaged query (top-total_limit); the page slice is one "
            "`CollectLimit (limit, offset)` over that tiny ordered relation "
            "— no extra shuffle, no second scan of the postings.",
            fmt(q_page),
        )
    )

    from marginaliasearch_spark.operators import browse as browse_ops

    bl = reader.doc_stats.where(FF.col("doc_len") % 11 == 3).select(
        "doc_id", FF.lit(1).alias("tier")
    )
    q_safe = run_query(reader, "customer query", k=10, blocklist=bl, safe_tier=2)
    sections.append(
        (
            "Tiered safety blocklist gate (NsfwDomainFilter.isBlocked analogue)",
            "Things to check: the blocklist enters as a `BroadcastExchange` "
            "feeding a `BroadcastHashJoin ... LeftAnti` on doc_id (a "
            "vertex-sized dim — the reference syncs ~10^4 NSFW_DOMAINS rows "
            "hourly), applied BEFORE `TakeOrderedAndProject` so the top-k "
            "never ranks a blocked doc; the tier<=level filter is a plain "
            "JVM `Filter` on the broadcast side, not a shuffle.",
            fmt(q_safe),
        )
    )

    di_meta = raw_docs.select("doc_id", "source")
    di_edges = raw_docs.select(
        FF.col("doc_id").alias("src"),
        ((FF.col("doc_id") + 1) % 500).alias("dst"),
    )
    di_scores = raw_docs.select(
        FF.col("doc_id"), (FF.col("doc_id") % 97).cast("long").alias("score")
    )
    di = browse_ops.domain_info(di_meta, di_edges, di_scores, id_col="doc_id")
    sections.append(
        (
            "Domain information panel (DomainInformationService analogue)",
            "Things to check: both degree counts are map-side-combinable "
            "`HashAggregate` pairs re-entering via `BroadcastExchange`/"
            "`BroadcastHashJoin` (LEFT) — the corpus-side relation is never "
            "shuffled; the single rank `Window` runs over the vertex-sized "
            "scores relation only (documented bound, as ranks_from_scores); "
            "the ranking percentile is integer `div` arithmetic inside "
            "WholeStageCodegen — no float rounding to diverge across "
            "engines.",
            fmt(di),
        )
    )

    from marginaliasearch_spark.operators.searchset import (
        explicit_search_set,
        write_search_set,
    )

    sample_ids = docs.select("conv_id").limit(40)
    write_search_set(
        explicit_search_set(sample_ids), root, "plansset"
    )
    q_set = run_search(reader, "customer query set:plansset", k=10)
    sections.append(
        (
            "Search-set gate (`set:<name>`, RankingSearchSet analogue)",
            "Things to check: the persisted member set enters as its own "
            "`Scan parquet` feeding a `BroadcastExchange` → broadcast "
            "semi-join against the candidate stream (dimension-sized set, "
            "never shuffles the corpus side); past the gate the plan is "
            "identical to the plain two-term query — same pushed term_id "
            "scans, same pivot, same `TakeOrderedAndProject`.",
            fmt(q_set),
        )
    )

    from marginaliasearch_spark.operators.datacard import data_card

    card = data_card(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    sections.append(
        (
            "Corpus data card (per-slice counts/dups/percentiles)",
            "Things to check: the corpus is read ONCE with `ReadSchema` "
            "carrying just text/lang/source/n_chars, and the exact "
            "countDistinct produces the standard two-phase plan: phase 1 "
            "partial-aggregates keyed by (lang, source, md5(text)) — "
            "map-side dedup, so the first `Exchange` moves one "
            "constant-size state row per DISTINCT (slice, text-hash), "
            "never raw text — phase 2 merges per slice. For "
            "trillion-row corpora where a ±2% dup rate suffices, swap "
            "countDistinct for approx_count_distinct (HLL) and the "
            "distinct shuffle collapses to sketch-sized.",
            fmt(card),
        )
    )

    from marginaliasearch_spark.operators.similarity import kmeans_assign

    km = kmeans_assign(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        k=8,
        iters=1,
    )
    sections.append(
        (
            "Lattice k-means — one Lloyd iteration + final assignment",
            "Things to check: centroids enter each assignment through a "
            "`BroadcastExchange`/`BroadcastNestedLoopJoin` (k rows — never "
            "a data-sized shuffle side); each assignment is ONE "
            "`HashAggregate`/`Exchange hashpartitioning(vec_id)` argmin "
            "(vq rides the aggregate, so no re-join to the points "
            "relation); the centroid update is a `Generate posexplode` "
            "feeding a partial-aggregated `Exchange "
            "hashpartitioning(cluster, i)` — 2 map-combinable shuffles "
            "per iteration, the same budget as the PageRank iteration. "
            "All arithmetic is int64 inside WholeStageCodegen (no Python "
            "anywhere in the loop).",
            fmt(km),
        )
    )

    from marginaliasearch_spark.operators.similarity import (
        kmeans_neardup_pairs,
    )

    kp = kmeans_neardup_pairs(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        threshold=0.3,
        k=8,
        iters=1,
    )
    sections.append(
        (
            "SemDeDup pair join (k-means clusters bound the candidates)",
            "Things to check: the pairwise join is a `SortMergeJoin` keyed "
            "on the CLUSTER id (co-partitioned self-join — the paper's "
            "n²/k bound; no CartesianProduct anywhere), both sides read "
            "the assignment from ONE `Scan ExistingRDD` (the eager "
            "localCheckpoint — without it Spark planned the whole Lloyd "
            "assignment twice, no ReusedExchange), and the exact cosine "
            "filter is a JVM fold inside the join condition (no Python).",
            fmt(kp),
        )
    )

    from marginaliasearch_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    pq_emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pq_cents = pq_train(pq_emb, m=8, ksub=8, iters=1)
    pq_codes = pq_encode(pq_emb, pq_cents, m=8).localCheckpoint(eager=True)
    qvec = [float((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    sections.append(
        (
            "PQ/ADC serving scan (codes materialized, LUT as literal)",
            "Things to check: the serving-time plan is ONE `Scan "
            "ExistingRDD` of (vec_id, codes) — the m-byte representation — "
            "feeding `TakeOrderedAndProject`; NO Exchange anywhere (the "
            "ADC sum is an int64 `aggregate` over the literal (m·ksub) "
            "LUT inside WholeStageCodegen, so a 100 TB scan is pure "
            "map-side work + the top-k heap); no Python operators.",
            fmt(pq_topk(pq_codes, pq_cents, qvec, k=10)),
        )
    )

    from marginaliasearch_spark.plans.pretrain import pretrain_manifest

    sections.append(
        (
            "Pretrain-corpus manifest (filter chain → dedup → split → agg)",
            "Things to check: the whole C4/Gopher filter mask is folded "
            "into the `Filter` directly above the parquet scan (documents "
            "failing any gate never reach a shuffle); the dedup window's "
            "`Exchange hashpartitioning(text_hash)` moves ONLY "
            "(doc_id, lang, n_words, n_chars, digest) — the text column "
            "is projected away before the exchange; the final groupBy "
            "has a map-side partial `HashAggregate` under the second "
            "Exchange. Two shuffles total, no Python, no join.",
            fmt(pretrain_manifest(raw_docs)),
        )
    )

    from marginaliasearch_spark.operators import sft
    from __spark_entry__ import _synth_turns  # the entry/twin-shared synthesis

    sft_turns = _synth_turns(raw_docs)
    sections.append(
        (
            "SFT pair extraction (causal context window over conv_id)",
            "Things to check: ONE `Exchange hashpartitioning(conv_id)` "
            "feeding `Sort(turn_idx)` + `Window` (the collect_list prefix "
            "gather); the role filter and all prompt rendering "
            "(transform/array_join/slice) are JVM expressions after the "
            "window — no Python operators, no second shuffle.",
            fmt(sft.sft_pairs(sft_turns, max_context_turns=3)),
        )
    )

    sections.append(
        (
            "Conversation-prefix dedup (length-prefixed digest, two aggs)",
            "Things to check: the `turn_idx < k` filter sits directly on "
            "the scan (only conversation HEADS reach the first Exchange); "
            "two `HashAggregate` pairs (conv_id digest, then family "
            "grouping), each with a map-side partial under its Exchange; "
            "no Python operators, no window, no join.",
            fmt(dedup.conv_prefix_dedup(sft_turns, prefix_turns=2)),
        )
    )

    pref_cands = raw_docs.select(
        F.concat(F.lit("prompt "), F.pmod("doc_id", F.lit(40)).cast("string")).alias(
            "prompt"
        ),
        F.col("text").alias("response"),
        F.length("text").cast("long").alias("score"),
    )
    sections.append(
        (
            "Preference-pair assembly (max_by/min_by, no arrays)",
            "Things to check: two `HashAggregate` pairs (candidate dedup, "
            "then max_by/min_by argmax/argmin) each with a map-side "
            "partial under its Exchange — NO Window operator, no "
            "collect_list, so a million-candidate prompt group costs "
            "O(1) aggregation state per task, not an array.",
            fmt(sft.preference_pairs(pref_cands)),
        )
    )

    from marginaliasearch_spark.operators import sampling

    sections.append(
        (
            "Epoch-shuffle training order (two-pass prefix sum, no global sort)",
            "Things to check: ONE `Exchange hashpartitioning(pid)` feeding a "
            "per-bucket `Sort` + `Window` (row_number within fixed hash-range "
            "buckets — never a range or single-partition exchange), then a "
            "`BroadcastHashJoin` against the n_buckets-row offset table; all "
            "whole-stage codegen, no Python operators. The count pass ran "
            "eagerly before this plan (n_buckets rows to the driver — bytes).",
            fmt(sampling.epoch_order(raw_docs.select("doc_id"), seed="epoch-1")),
        )
    )

    sections.append(
        (
            "Length bucketing (exact ntile via per-token-count rank scan)",
            "Things to check: the data-row window is partitioned by "
            "`(tok, sb)` — one id-range of one length group, so a corpus "
            "where most docs share a length (chunked corpora) still ranks "
            "in parallel; the only other window runs over the (tok, sb) "
            "COUNT relation (≤ subbucket rows per group); the per-tok "
            "base table arrives through a `BroadcastHashJoin`; bucket "
            "math is integer DIV inside whole-stage codegen. NEVER a "
            "single-partition un-partitioned ORDER BY window.",
            fmt(sampling.length_buckets(raw_docs, n_buckets=8)),
        )
    )

    out = ["# EXPLAIN — formatted physical plans of the hot paths",
           "",
           "Generated by `python tools/dump_plans.py` over the sf0.001 driver",
           "tables; regenerate after plan-affecting changes.",
           ""]
    for title, notes, plan in sections:
        out += [f"## {title}", "", notes, "", "```", plan.rstrip(), "```", ""]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
