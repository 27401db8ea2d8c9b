"""Benchmark harness: index-build throughput + headline query latencies.

Default mode (what the driver runs per round):

    python bench.py            # sf dir from $SPARK_GRAFT_SF_DIR (sf0.1),
                               # cores from $SPARK_GRAFT_CPUS (default 32)

prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1,
     "build": {"turns": N, "sec": s, "turns_per_sec": r}, "cores": C}

The build benchmark constructs the full inverted index (tokenize → journal →
salt-free range shuffle → block encode → postings/lexicon/doc_stats) over a
deterministic Zipf-skewed transcript corpus (head terms in >80% of docs — the
worst-case skew the north rule calls out), generated distributively inside
Spark so data creation scales with the cluster. Query benchmarks run the
driver-contract queries from ``__spark_entry__`` against the sf-dir tables.

Scaling mode (north-rule two-cluster-size evidence)::

    python bench.py --scaling [--n 8]   # runs build at local[N] and
                                        # local[4N] in fresh subprocesses,
                                        # reports throughput + efficiency

``--build-only --cores C`` is the subprocess entry used by --scaling.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Build-benchmark corpus: 20k convs x 10 turns x 40 tokens — 200k turns,
# 8M token occurrences, Zipf s=1.1 over 20k vocab (head term df ~ corpus).
BUILD_CONVS = 20_000
BUILD_TURNS_PER_CONV = 10
# Scaling-mode corpus is larger (450k turns) so distributable compute
# dominates fixed per-job overhead — the sandbox stand-in for the fact that
# at 10^12 turns the fixed costs vanish entirely; a small warmup build first
# absorbs one-time python-worker spawn + JIT (a long-running cluster
# amortizes those).
SCALING_CONVS = 45_000
WARMUP_CONVS = 2_000

BENCH_QUERIES = [
    "fulltext_bm25_single",
    "fulltext_bm25_and",
    "fulltext_bm25_exclude",
    "fulltext_bm25_or",
    "fulltext_bm25_phrase",
    "fulltext_proximity",
    "index_lexicon_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "text_language_id",
    "sim_cosine_topk",
    "sim_lsh_topk",
    "events_hourly",
    # round-2 additions (keep earlier keys stable for cross-round deltas)
    "fulltext_wand_and",
    "fulltext_bm25_flags",
    "fulltext_bm25_weighted",
    "fulltext_bm25_lang",
    "sim_ivf_topk",
    # round-3 additions
    "fulltext_wand_or_and",
    "fulltext_expanded",
    "fulltext_group_cap",
    "fulltext_decorated",
    "events_sessions",
    "index_ngram_stats",
    "index_spell_suggest",
    "dedup_substring",
    "text_repetition",
    "dedup_components",
    "dedup_span_removal",
    "sample_split",
    "sample_stratified",
    "decontam_overlap",
    "text_filter_chain",
    "sample_temperature",
    "sample_pack",
    "dedup_cross_corpus",
    "dedup_canonical",
    "fulltext_keywords",
    "text_pii_redact",
    "sim_knn_join",
    "dedup_semantic",
    "sample_chunks",
    "sim_quantized_topk",
    "rank_pagerank",
    "index_prefix_suggest",
    "fulltext_bm25_year",
    "fulltext_bm25_advice",
    "dsir_resample",
    "lm_perplexity",
    "dedup_line_removal",
    "fulltext_deleted",
    "fulltext_bm25_recent",
    "fulltext_explain",
    "rank_adjacencies",
    # round-3 continuation (this session)
    "text_classify",
    "text_topic_once",
    "text_question_spam",
    "fulltext_safe",
    "rank_conv_info",
    "browse_random",
    "browse_similar",
    "assist_route",
    "fulltext_page",
    # round-4 additions
    "index_subject_keywords",
    "streaming_dedup",
    "streaming_windows",
    "report_datacard",
    "fulltext_conv",
    "fulltext_searchset",
    "sim_kmeans",
    "dedup_semantic_kmeans",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "text_hash_embed",
    "dedup_semantic_text",
    "text_bpe_encode",
    "pipeline_pretrain",
    "sft_pairs",
    "dedup_conv_prefix",
    "sft_pref_pairs",
    "sft_refusal_stats",
    "sample_epoch_order",
    "sample_length_buckets",
    # round-5 completion: every remaining entry, so the per-round trend
    # line covers the WHOLE surface instead of silently sampling it
    # (r04 verdict item 4). Mostly cheap variants (gate/limit/priority
    # query shapes, keyword extractors); order appends
    # after the stable core to keep cross-round deltas comparable.
    "fulltext_bm25_limit",
    "fulltext_bm25_priority",
    "fulltext_bm25_rank",
    "fulltext_bm25_penalty",
    "fulltext_bm25_old",
    "fulltext_positional",
    "fulltext_wand",
    "fulltext_gate_pass",
    "fulltext_gate_empty",
    "fulltext_qs_wand",
    "fulltext_qs_gate",
    "fulltext_merged",
    "fulltext_resumed",
    "fulltext_deleted_compacted",
    "fulltext_serp_dedup",
    "index_corpus_stats",
    "index_doc_stats",
    "index_search_set",
    "index_tfidf_keywords",
    "index_name_keywords",
    "index_artifact_keywords",
    "dedup_jaccard",
    "dedup_ngram_jaccard",
    "sim_neardup",
    "dsir_weights",
    "lm_ppl_buckets",
    "text_fingerprint",
    "text_token_counts",
    "text_classify_counted",
    "text_topic_decay",
    "text_content_farm",
    "text_bpe_vocab",
    "assist_convert",
    "assist_math_eval",
]


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


# The driver records only the LAST 2000 chars of bench stdout and parses
# the JSON line out of that window — BENCH_r03.json came back with
# "parsed": null because the full per-query line had grown past 2000 chars
# and lost its opening brace. Budget the printed line: full detail always
# goes to BENCH_DETAIL.json next to this script; the stdout line keeps
# every top-level aggregate and as many per-query timings as fit.
_LINE_BUDGET = 1880
_DETAIL_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)


def _print_budgeted(payload: dict) -> None:
    with open(_DETAIL_FILE, "w") as f:
        json.dump(payload, f, indent=1)
    line = json.dumps(payload)
    if len(line) <= _LINE_BUDGET:
        print(line)
        return
    compact = dict(payload)
    # host probe: keep the medians, drop the per-size samples
    host = payload.get("host")
    if isinstance(host, dict):
        compact["host"] = {
            k: (v.get("alloc_stream_gbps") if isinstance(v, dict) else v)
            for k, v in host.items()
        }
    pct = payload.get("percentiles")
    if isinstance(pct, dict) and "latency" in pct and len(json.dumps(compact)) > _LINE_BUDGET:
        compact["percentiles"] = {
            k: v for k, v in pct.items() if k != "latency"
        }
        compact["detail"] = os.path.basename(_DETAIL_FILE)
    queries = payload.get("queries")
    if isinstance(queries, dict) and queries:
        compact["n_queries"] = len(queries)
        compact["queries_total_sec"] = round(sum(queries.values()), 3)
        compact["detail"] = os.path.basename(_DETAIL_FILE)
        kept: dict[str, float] = {}
        compact["queries"] = kept
        compact["queries_omitted"] = len(queries)
        for name, sec in queries.items():  # BENCH_QUERIES order = stable core first
            kept[name] = round(sec, 2)
            compact["queries_omitted"] = len(queries) - len(kept)
            if len(json.dumps(compact)) > _LINE_BUDGET:
                del kept[name]
                compact["queries_omitted"] = len(queries) - len(kept)
                break
    line = json.dumps(compact)
    if len(line) > _LINE_BUDGET:
        # last-resort floor: aggregates only, everything else in the file
        # (includes the scaling-mode payload's keys — dropping those
        # would strip the N-vs-4N numbers the budgeting exists to keep)
        compact = {
            k: compact[k]
            for k in (
                "metric", "value", "unit", "sf", "cores",
                "n_cores", "throughput_n", "throughput_4n",
                "scaling_efficiency", "scaling_efficiency_median",
            )
            if k in compact
        }
        compact["detail"] = os.path.basename(_DETAIL_FILE)
        line = json.dumps(compact)
    print(line)


def _host_probe() -> dict:
    """Measure the host's fresh-allocation memory bandwidth (GB/s).

    This sandbox's memory/page-fault path intermittently degrades by
    100-500x at the hypervisor level (BASELINE.md, 2026-08-18 incident:
    healthy ~10-30 GB/s, degraded 0.02-0.2 GB/s), which selectively
    destroys allocation-heavy phases (Arrow buffers = the journal build)
    while cache-resident CPU work runs at full speed. Emitting the probe
    with every bench line makes each recorded number self-describing:
    a slow result with a healthy probe is the code; a slow result with a
    degraded probe is the box. The probe is fresh-allocation on purpose —
    touching new pages is what degrades, not in-cache arithmetic.
    """
    import numpy as np

    # three samples at distinct sizes: during degradation windows the
    # observed bandwidth ALTERNATES run-to-run by ~30x (fresh mmap vs
    # partially reclaimed pages), so a single shot can read 30x high
    samples = []
    for mb in (32, 33, 34):
        t0 = time.time()
        a = np.ones(mb * 1024 * 1024 // 8)  # fresh allocation
        b = a * 3.0  # + one streaming op (reads mb, writes mb fresh)
        sec = time.time() - t0
        _ = b[0]
        del a, b
        samples.append(round((mb * 3) / 1024.0 / sec, 2))
    return {
        "alloc_stream_gbps": sorted(samples)[1],
        "gbps_samples": samples,
    }


def run_build(spark, workdir: str, n_convs: int = BUILD_CONVS, warmup: bool = False) -> dict:
    import shutil
    import tempfile

    from marginaliasearch_spark.operators.index_build import build_index
    from marginaliasearch_spark.sources.transcripts import zipf_corpus

    if warmup:
        wdir = tempfile.mkdtemp(prefix="msq_warm_")
        try:
            build_index(
                spark,
                zipf_corpus(
                    spark,
                    n_convs=WARMUP_CONVS,
                    turns_per_conv=BUILD_TURNS_PER_CONV,
                ),
                wdir,
                n_buckets=1,
            )
        finally:
            shutil.rmtree(wdir, ignore_errors=True)
    corpus = zipf_corpus(
        spark, n_convs=n_convs, turns_per_conv=BUILD_TURNS_PER_CONV
    )
    n_turns = n_convs * BUILD_TURNS_PER_CONV
    t0 = time.time()
    build_index(spark, corpus, workdir, n_buckets=1)
    sec = time.time() - t0
    return {
        "turns": n_turns,
        "sec": round(sec, 3),
        "turns_per_sec": round(n_turns / sec, 1),
    }


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # warm the documents index once so query timings measure queries,
    # not the one-off build; also run one full positional query so the
    # pandas-UDF worker spawn (on EVERY core — limit(1) only touches a
    # couple of tasks) isn't billed to the first measured query
    entry_mod._get_reader(spark, sf_dir)
    qs["fulltext_proximity"](spark, sf_dir).count()
    # same reason for the derived-index readers: on a fresh box the
    # merged reader builds two half-indexes + merge and the resumed
    # reader builds a 4-bucket index TWICE (injected crash + resume) —
    # minutes of one-off build that must not be billed as the query's
    # latency in the cross-round trend line
    entry_mod._get_merged_reader(spark, sf_dir)
    entry_mod._get_resumed_reader(spark, sf_dir)
    entry_mod._get_deleted_roots(spark, sf_dir)
    out: dict[str, float] = {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        n = df.count()
        out[name] = round(time.time() - t0, 3)
        _ = n
    return out


def run_percentiles(spark, sf_dir: str, reps: int) -> dict:
    """Latency-percentile harness — the reference perf harness's metric
    shape (`PerfTestMain.java:236-264`: P1/P10/P90/P99 over a trailing
    query window + an items-ranked/sec throughput figure). Each fulltext
    query runs ``reps`` times ROUND-ROBIN (not back-to-back), so
    cross-session tenant drift spreads across all queries instead of
    biasing whichever ran last — the same interleaving rule as the
    scaling-ladder protocol. Throughput divergence, documented: the
    reference counts candidates *ranked*; a declarative engine has no
    per-candidate counter, so this reports result rows returned per
    second instead."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = [n for n in BENCH_QUERIES if n.startswith("fulltext_")]
    entry_mod._get_reader(spark, sf_dir)  # build/warm the index once
    qs["fulltext_proximity"](spark, sf_dir).count()  # worker-spawn warmup
    lat: dict[str, list[float]] = {n: [] for n in names}
    rows = 0
    t_all = time.time()
    for _ in range(reps):
        for n in names:
            t0 = time.time()
            rows += qs[n](spark, sf_dir).count()
            lat[n].append(time.time() - t0)
    wall = time.time() - t_all

    def pct(xs: list[float], q: int) -> float:
        s = sorted(xs)
        return round(s[min(len(s) - 1, int(q / 100.0 * len(s)))], 3)

    return {
        "reps": reps,
        "queries": len(names),
        "results_per_sec": round(rows / wall, 1),
        "latency": {
            n: {f"p{q}": pct(v, q) for q in (1, 10, 50, 90, 99)}
            for n, v in lat.items()
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cores", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument(
        "--scaling-corpus",
        action="store_true",
        help="use the larger scaling corpus + warmup build",
    )
    ap.add_argument("--scaling", action="store_true")
    # default N=1: this sandbox reports 32 vCPUs but saturates at low
    # parallelism — a pure-CPU probe gains only ~1.85x from 8→32 procs
    # (SMT/shared cores), and the memory-bandwidth-heavy build stops gaining
    # past ~4 concurrent arrow workers (T4 ≈ T8 ≈ T32). local[1] vs local[4]
    # is the largest N-vs-4N cell where each thread is backed by dedicated
    # core + bandwidth, which is what per-node executors get on a real
    # cluster; see BASELINE.md "Measured" for the full 1/2/4/8/32 ladder.
    ap.add_argument("--n", type=int, default=1, help="N for the N vs 4N scaling run")
    ap.add_argument(
        "--repeat",
        type=int,
        default=3,
        help="runs per cell (best-of-N and median-of-N both reported)",
    )
    ap.add_argument(
        "--percentiles",
        type=int,
        default=0,
        metavar="R",
        help="run each fulltext query R times round-robin and report "
        "P1/P10/P50/P90/P99 latencies + results/sec (reference perf-"
        "harness metric shape, PerfTestMain.java)",
    )
    args = ap.parse_args()

    if args.scaling:
        # per cell: best-of-N (the reference's perf harness reports best-3
        # averages, PerfTestMain.java:236-246) AND median-of-N — single-run
        # walltime on this shared sandbox varies up to ±35%, and the
        # headline claim must not rest on the single most favorable run
        import statistics

        probe = _host_probe()
        results: dict[int, dict] = {}
        all_runs: dict[int, list] = {}
        # each cell runs through spark-submit --py-files (the north rule's
        # deployment shape; swap local[N] for a cluster master URL on a
        # real deployment)
        submit = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools", "submit.sh")
        for cores in (args.n, 4 * args.n):
            runs = []
            for _ in range(args.repeat):
                proc = subprocess.run(
                    [
                        "bash",
                        submit,
                        f"local[{cores}]",
                        "--convs",
                        str(SCALING_CONVS),
                        "--warmup",
                    ],
                    capture_output=True,
                    text=True,
                    check=True,
                )
                line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
                runs.append(json.loads(line)["build"])
            all_runs[cores] = [r["turns_per_sec"] for r in runs]
            results[cores] = max(runs, key=lambda r: r["turns_per_sec"])
        tp_n = results[args.n]["turns_per_sec"]
        tp_4n = results[4 * args.n]["turns_per_sec"]
        eff = (tp_4n / tp_n) / 4.0
        med_n = statistics.median(all_runs[args.n])
        med_4n = statistics.median(all_runs[4 * args.n])
        _print_budgeted(
                {
                    "metric": "index-build scaling N vs 4N (local threads)",
                    "n_cores": args.n,
                    "throughput_n": tp_n,
                    "throughput_4n": tp_4n,
                    "scaling_efficiency": round(eff, 3),
                    "throughput_n_median": round(med_n, 1),
                    "throughput_4n_median": round(med_4n, 1),
                    "scaling_efficiency_median": round((med_4n / med_n) / 4.0, 3),
                    "turns": results[args.n]["turns"],
                    "runs": all_runs,
                    "host": {"before": probe, "after": _host_probe()},
                }
        )
        return

    import shutil
    import tempfile

    from marginaliasearch_spark.session import get_spark

    probe_before = _host_probe()
    if args.percentiles:
        spark = get_spark("bench", cores=args.cores)
        try:
            out = run_percentiles(spark, args.sf_dir, args.percentiles)
        finally:
            spark.stop()
        _print_budgeted(
                {
                    "metric": "fulltext query latency percentiles",
                    "value": out["results_per_sec"],
                    "unit": "results/sec",
                    "sf": _sf_of(args.sf_dir),
                    "cores": args.cores,
                    "percentiles": out,
                    "host": {"before": probe_before, "after": _host_probe()},
                }
        )
        return
    spark = get_spark("bench", cores=args.cores)
    workdir = tempfile.mkdtemp(prefix="msq_bench_idx_")
    try:
        if args.scaling_corpus:
            build = run_build(
                spark, workdir, n_convs=SCALING_CONVS, warmup=True
            )
        else:
            build = run_build(spark, workdir)
        queries = {} if args.build_only else run_queries(spark, args.sf_dir)
        total = build["sec"] + sum(queries.values())
        _print_budgeted(
                {
                    "metric": "index-build (200k Zipf turns) + headline queries wall time",
                    "value": round(total, 3),
                    "unit": "sec",
                    "queries": queries,
                    "sf": _sf_of(args.sf_dir),
                    "build": build,
                    "cores": args.cores,
                    "host": {"before": probe_before, "after": _host_probe()},
                    # pointer to the authoritative north-rule scaling
                    # record BY NAME ONLY — no number is duplicated into
                    # this fresh measurement payload, so a historical
                    # constant can't be mistaken for a current reading
                    # (this run did not measure scaling; run
                    # `bench.py --scaling` for a fresh ladder). See
                    # BASELINE.md "Scaling ladders" + the 2026-08-18
                    # incident note for why degraded-window ladders are
                    # box measurements.
                    "scaling_reference": {
                        "see": "BASELINE.md 'Scaling ladders' (round-3 final-tree spark-submit 1-vs-4 ladder, median-of-3, pre-incident)",
                        "note": "not measured by this run",
                    },
                }
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
