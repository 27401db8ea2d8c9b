"""One benchmark run: set up, measure, check, report. Started by run.py.

Both workloads take the same user-visible steps on ``local[4]`` with one
client; they differ in how the index is updated and which index the
queries read:

- set-up: start Spark, write seeded Zipf transcripts to parquet (base
  conversations, and on ``update`` a delta of new ones); opening the
  queries' reader also counts as set-up;
- build: one ``build_index`` over the base corpus, the first Spark work of
  the session, so it pays Python worker start-up and code generation the
  way a batch indexing job does;
- update: on ``update``, ``build_index`` of the delta, ``merge_indexes``
  of base and delta into a new index, then ``delete_convs`` of 20
  conversations; on ``query``, ten single-conversation ``delete_convs``
  calls on the base index;
- query: a closed loop of ``run_search(reader, q, k=10).collect()`` over a
  cycle of query shapes (all six on ``query``; single, AND-NOT, OR and
  WAND on ``update``), as many whole cycles as fit in ``--seconds``, at
  least one.

``query`` queries the clean base index before updating it; ``update``
updates first and queries the merged, tombstoned index through a fresh
reader. Results are checked against the oracle after the timed steps.
The traced run (``--trace 1``) also splits the build at the journal,
records Spark jobs/stages/tasks per call, probes the lexicon and posting
volumes of each query, compacts the merged index (``update`` only), times
the numpy kernels and writes every span to
``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

from .inputs import SHAPES

K = 10
CORES = 4
MAX_CYCLES = 8


@dataclass(frozen=True)
class Workload:
    base_convs: int
    delta_convs: int  # 0: no merge; the update is single-conversation deletes
    deletes: int
    shapes: tuple[str, ...]  # one query cycle


WORKLOADS = {
    "query": Workload(base_convs=2000, delta_convs=0, deletes=10, shapes=SHAPES),
    "update": Workload(
        base_convs=2000,
        delta_convs=100,
        deletes=20,
        shapes=("single", "and_not", "or_and", "wand"),
    ),
}

E2E_UNITS = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "index_bytes_per_text_byte": "B/B",
    "update_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
}


def host_probe() -> float:
    """Fresh-allocation streaming bandwidth in GB/s (median of three sizes).

    Touching new pages is what degrades on an unhealthy host; a slow run
    with a healthy probe is the code, with a degraded probe the machine.
    """
    import numpy as np

    samples = []
    for mb in (32, 33, 34):
        t0 = time.perf_counter()
        a = np.ones(mb * 1024 * 1024 // 8)
        b = a * 3.0
        sec = time.perf_counter() - t0
        del a, b
        samples.append(mb * 3 / 1024.0 / sec)
    return statistics.median(samples)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def start_spark(run_dir: str):
    from marginaliasearch_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        "perfbench",
        cores=CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)


def choose_deletes(base, queries, n: int, seed: int) -> list[str]:
    """Half: the conversation using each of the first queries' leading term
    most often (likely a top result, so a missed tombstone shows); the rest
    seeded at random."""
    out: list[str] = []
    for q in queries[: n // 2]:
        term = q.include[0]
        best = max(base.ids, key=lambda c: (base.docs[c].count(term), c))
        if best not in out:
            out.append(best)
    rng = random.Random(seed + 99)
    while len(out) < n:
        c = rng.choice(base.ids)
        if c not in out:
            out.append(c)
    return out


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.traced = bool(args.trace)
        self.run_dir = os.environ["PERFBENCH_RUN_DIR"]
        self.work = os.path.join(self.run_dir, "work")
        self.roots = {
            n: os.path.join(self.work, n)
            for n in ("base", "delta", "merged", "compact")
        }
        # the index the update leaves behind
        self.updated = self.roots["merged" if self.wl.delta_convs else "base"]
        self.attempted = 0
        self.failures: list[str] = []
        self.m: dict[str, float] = {}

    # -- bookkeeping ---------------------------------------------------
    def mark(self, label: str) -> None:
        print(f"perfbench: {label} done at {time.perf_counter() - self.t0:.1f}s", file=sys.stderr)

    def fail(self, what: str, why: str) -> None:
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr)
        self.failures.append(f"{what}: {why}")

    # -- timed steps ---------------------------------------------------
    def build(self) -> None:
        from marginaliasearch_spark.operators import ingest
        from marginaliasearch_spark.operators.index_build import IndexPaths, build_index

        spark, rec, root = self.spark, self.rec, self.roots["base"]
        self.attempted += 1
        with rec.span("bench.build") as s:
            transcripts = spark.read.parquet(self.base_dir)
            if self.traced:
                # journal written here through the public ingest step;
                # build_index then resumes past its committed _SUCCESS
                with rec.span("ingest.journal"):
                    ingest.build_journal(transcripts).write.parquet(
                        IndexPaths(root).journal
                    )
                with rec.span("index_build.build_rest"):
                    build_index(spark, transcripts, root, n_buckets=1)
            else:
                build_index(spark, transcripts, root, n_buckets=1)
        self.m["build_turns_per_s"] = self.base.n_turns / s.dur
        self.m["index_bytes_per_text_byte"] = dir_bytes(root) / self.base.text_bytes

    def update(self) -> None:
        """Build and merge the delta and delete a batch when the workload
        has a delta; otherwise one ``delete_convs`` call per conversation."""
        from marginaliasearch_spark.operators.index_build import (
            build_index,
            delete_convs,
            merge_indexes,
        )

        spark, rec, r = self.spark, self.rec, self.roots
        n_deleted = 0
        with rec.span("bench.update") as s:
            if self.wl.delta_convs:
                self.attempted += 3
                with rec.span("index_build.delta_build"):
                    build_index(
                        spark, spark.read.parquet(self.delta_dir), r["delta"], n_buckets=1
                    )
                with rec.span("index_build.merge"):
                    merge_indexes(spark, r["base"], r["delta"], r["merged"])
                with rec.span("index_build.delete"):
                    n_deleted = delete_convs(spark, r["merged"], self.deleted)
            else:
                for conv in self.deleted:
                    self.attempted += 1
                    with rec.span("index_build.delete"):
                        n_deleted += delete_convs(spark, r["base"], [conv])
        self.m["update_s"] = s.dur
        with open(os.path.join(self.updated, "corpus_stats.json")) as f:
            n_docs = json.load(f)["doc_count"]
        if n_docs != self.wl.base_convs + self.wl.delta_convs:
            self.fail("update", f"doc_count {n_docs}")
        if n_deleted != len(self.deleted):
            self.fail("delete_convs", f"tombstoned {n_deleted} of {len(self.deleted)}")

    def _query(self, reader, q):
        from marginaliasearch_spark.operators.query_exec import run_search
        from marginaliasearch_spark.plans.parser import parse_query

        rec = self.rec
        with rec.span("bench.query", qid=q.qid) as s:
            with rec.span("parser.parse", qid=q.qid):
                pq = parse_query(q.text)
            with rec.span("query_exec.plan", qid=q.qid):
                df = run_search(reader, pq, k=K)
            with rec.span("query_exec.execute", qid=q.qid):
                rows = df.collect()
        return s.dur, rows

    @staticmethod
    def _query_untraced(reader, q):
        from marginaliasearch_spark.operators.query_exec import run_search
        from marginaliasearch_spark.plans.parser import parse_query

        t0 = time.perf_counter()
        rows = run_search(reader, parse_query(q.text), k=K).collect()
        return time.perf_counter() - t0, rows

    def query_loop(self, root: str) -> list:
        """Closed loop, one client: as many whole shape cycles as fit in
        --seconds, at least one."""
        from marginaliasearch_spark.operators.index_build import IndexPaths
        from marginaliasearch_spark.operators.query_exec import IndexReader

        t0 = time.perf_counter()
        reader = IndexReader(self.spark, IndexPaths(root))
        self.reader_open_s = time.perf_counter() - t0
        done, lat, pairs = [], [], []
        t_loop = time.perf_counter()
        for n, cycle in enumerate(self.cycles, 1):
            for q in cycle:
                self.attempted += 1
                try:
                    if self.traced:
                        # interleaved untraced twin, order alternating, for
                        # the tracing overhead
                        if q.qid % 2:
                            dt, rows = self._query(reader, q)
                            plain, _ = self._query_untraced(reader, q)
                        else:
                            plain, _ = self._query_untraced(reader, q)
                            dt, rows = self._query(reader, q)
                        pairs.append((dt, plain))
                    else:
                        dt, rows = self._query(reader, q)
                except Exception:  # a failing query is counted, the loop goes on
                    self.fail(f"query {q.text!r}", traceback.format_exc())
                    continue
                lat.append(dt)
                done.append((q, rows))
            elapsed = time.perf_counter() - t_loop
            if elapsed + elapsed / n > self.args.seconds:  # next cycle would not fit
                break
        loop_s = time.perf_counter() - t_loop
        self.m["query_p50_s"] = statistics.median(lat)
        self.m["queries_per_s"] = len(lat) / loop_s
        self.pairs = pairs
        self.reader = reader
        return done

    # -- checks (outside the timed steps) -------------------------------
    def check_queries(self, reader, done, oracle) -> None:
        from marginaliasearch_spark.operators.query_exec import run_query
        from marginaliasearch_spark.plans.parser import parse_query

        for q, rows in done:
            got = [(r["conv_id"], r["score"]) for r in rows]
            why = oracle.check(q, got, K)
            if why is None and q.shape == "wand" and self.traced:
                plain = run_query(reader, parse_query(q.text), k=K).collect()
                if [(r["conv_id"], r["score"]) for r in plain] != got:
                    why = "qs=wand differs from run_query"
            if why is not None:
                self.fail(f"query {q.text!r}", why)

    # -- traced-run extras ---------------------------------------------
    def probe_queries(self, root: str, done) -> None:
        """Lexicon probe on a throwaway reader (the measured reader's memo
        stays as the loop left it) and posting rows decoded per result."""
        from marginaliasearch_spark.operators.index_build import IndexPaths
        from marginaliasearch_spark.operators.query_exec import IndexReader

        decoded = results = 0
        for q, rows in done:
            fresh = IndexReader(self.spark, IndexPaths(root))
            with self.rec.span("query_exec.lexicon_probe", qid=q.qid):
                stats = fresh.term_stats(list(q.include + q.exclude))
            decoded += sum(self.reader.decode_term(tid).count() for tid, _ in stats.values())
            results += len(rows)
        self.m["query_exec.decoded_rows_per_result"] = decoded / max(1, results)

    def compact(self) -> None:
        from marginaliasearch_spark.operators.index_build import IndexPaths, compact_index
        from marginaliasearch_spark.operators.query_exec import IndexReader

        from .checks import Oracle

        self.attempted += 1
        with self.rec.span("bench.compact"):
            with self.rec.span("index_build.compact"):
                compact_index(self.spark, self.updated, self.roots["compact"])
        self.m["index_build.compact_bytes_rewritten"] = dir_bytes(self.roots["compact"])
        # compaction absorbs the tombstones: results must equal the oracle
        # over the corpus without the deleted conversations
        live = {c: d for c, d in self.all_docs.items() if c not in set(self.deleted)}
        oracle = Oracle(live, self.all_turns, self.deleted)
        reader = IndexReader(self.spark, IndexPaths(self.roots["compact"]))
        exact = [q for q in self.cycles[0] if q.shape in ("single", "and", "and_not")]
        done = []
        for q in exact:
            self.attempted += 1
            try:
                done.append((q, self._query_untraced(reader, q)[1]))
            except Exception:
                self.fail(f"compacted query {q.text!r}", traceback.format_exc())
        self.check_queries(reader, done, oracle)

    def layer_metrics(self) -> dict[str, float]:
        from marginaliasearch_spark.operators.index_build import IndexPaths, read_manifest

        rec = self.rec
        rec.resolve_counters()
        out = dict(self.m)

        def one(name):
            spans = rec.named(name)
            return spans[0] if spans else None

        def med(values):
            return statistics.median(values) if values else 0.0

        j = one("ingest.journal")
        out["ingest.journal_s"] = j.dur
        out["ingest.journal_jobs"] = j.jobs
        out["ingest.journal_tasks"] = j.tasks
        b = one("index_build.build_rest")
        out["index_build.build_rest_s"] = b.dur
        out["index_build.build_rest_jobs"] = b.jobs
        out["index_build.build_rest_stages"] = b.stages
        out["index_build.postings_bytes"] = sum(
            m["postings_bytes"] for m in read_manifest(IndexPaths(self.roots["base"]))
        )
        # a step the workload does not take reads 0
        out.setdefault("index_build.compact_bytes_rewritten", 0)
        for step in ("delta_build", "merge", "delete", "compact"):
            spans = rec.named(f"index_build.{step}")
            out[f"index_build.{step}_s"] = sum(s.dur for s in spans)
            out[f"index_build.{step}_jobs"] = sum(s.jobs for s in spans)
        out["parser.parse_us"] = 1e6 * med([s.dur for s in rec.named("parser.parse")])
        for name in ("lexicon_probe", "plan", "execute"):
            spans = rec.named(f"query_exec.{name}")
            out[f"query_exec.{name}_s"] = med([s.dur for s in spans])
            out[f"query_exec.{name}_jobs"] = med([s.jobs for s in spans])
        ex = rec.named("query_exec.execute")
        out["query_exec.execute_stages"] = med([s.stages for s in ex])
        out["query_exec.execute_tasks"] = med([s.tasks for s in ex])
        jobs_by_shape: dict[str, list[int]] = {}
        shape_of = {q.qid: q.shape for cycle in self.cycles for q in cycle}
        for s in rec.named("bench.query"):
            jobs_by_shape.setdefault(shape_of[s.qid], []).append(rec.totals(s)[0])
        out["query_exec.jobs_per_query"] = med(
            [n for v in jobs_by_shape.values() for n in v]
        )
        for shape in SHAPES:
            out[f"query_exec.jobs_per_query.{shape}"] = med(jobs_by_shape.get(shape, []))
        self_s = rec.self_seconds(roots=("bench.build", "bench.update", "bench.query"))
        for layer in ("bench", "ingest", "index_build", "parser", "query_exec"):
            out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        traced = statistics.fmean(t for t, _ in self.pairs)
        plain = statistics.fmean(p for _, p in self.pairs)
        out["trace.query_overhead_s"] = traced - plain
        out["trace.query_overhead_frac"] = (traced - plain) / plain
        return out

    # -- the run -------------------------------------------------------
    def main(self) -> dict:
        from .checks import Oracle
        from .inputs import Corpus, make_queries, write_transcripts
        from .spans import Recorder

        args, wl = self.args, self.wl
        host_before = host_probe()
        self.t0 = t0 = time.perf_counter()
        self.spark = start_spark(self.run_dir)
        try:
            self.rec = Recorder(self.spark.sparkContext, traced=self.traced)
            corpus = os.path.join(self.work, "corpus")
            self.base_dir = os.path.join(corpus, "base")
            self.delta_dir = os.path.join(corpus, "delta")
            write_transcripts(self.base_dir, "zc", 0, wl.base_convs, args.seed)
            if wl.delta_convs:
                write_transcripts(
                    self.delta_dir, "zc", wl.base_convs, wl.delta_convs, args.seed + 1_000_003
                )
            setup_s = time.perf_counter() - t0
            self.mark("set-up")

            self.base = Corpus(self.base_dir)
            self.all_docs, self.all_turns = dict(self.base.docs), dict(self.base.turns)
            if wl.delta_convs:
                delta = Corpus(self.delta_dir)
                self.all_docs.update(delta.docs)
                self.all_turns.update(delta.turns)
            self.cycles = make_queries(self.base, args.seed, MAX_CYCLES, K, wl.shapes)
            flat = [q for c in self.cycles for q in c if q.shape != "phrase"]
            self.deleted = choose_deletes(self.base, flat, wl.deletes, args.seed)
            self.mark("inputs")

            self.build()
            self.mark("build")
            if wl.delta_convs:
                self.update()
                done = self.query_loop(self.updated)
                oracle = Oracle(self.all_docs, self.all_turns, self.deleted)
            else:
                done = self.query_loop(self.roots["base"])
                oracle = Oracle(self.base.docs, self.base.turns)
                self.update()
            self.m["setup_s"] = setup_s + self.reader_open_s
            self.mark("update+queries")
            self.check_queries(self.reader, done, oracle)
            self.mark("checks")

            if self.traced:
                self.probe_queries(self.reader.paths.root, done)
                if wl.delta_convs:
                    self.compact()
                from .kernels import kernel_rates

                texts = [t for c in self.base.ids[:200] for _, t in self.base.turns[c]]
                self.m.update(kernel_rates(args.seed, texts))
                metrics = self.layer_metrics()
        finally:
            stop_spark(self.spark)
            shutil.rmtree(self.work, ignore_errors=True)
        self.mark("stop")
        host_after = host_probe()
        host = {"alloc_gbps_before": host_before, "alloc_gbps_after": host_after}
        print(json.dumps({"host": host}))
        if self.traced:
            metrics["host.alloc_gbps_before"] = host_before
            metrics["host.alloc_gbps_after"] = host_after
            os.makedirs(".perfbench", exist_ok=True)
            self.rec.dump(
                os.path.join(".perfbench", f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "host": host,
                 "failures": self.failures, "metrics": metrics},
            )
            units = LAYER_UNITS
        else:
            metrics = self.m
            units = E2E_UNITS
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
        }


def _layer_units() -> dict[str, str]:
    units = {
        "ingest.journal_s": "s",
        "ingest.journal_jobs": "count",
        "ingest.journal_tasks": "count",
        "index_build.build_rest_s": "s",
        "index_build.build_rest_jobs": "count",
        "index_build.build_rest_stages": "count",
        "index_build.postings_bytes": "B",
    }
    for step in ("delta_build", "merge", "delete", "compact"):
        units[f"index_build.{step}_s"] = "s"
        units[f"index_build.{step}_jobs"] = "count"
    units["index_build.compact_bytes_rewritten"] = "B"
    units["parser.parse_us"] = "us"
    for name in ("lexicon_probe", "plan", "execute"):
        units[f"query_exec.{name}_s"] = "s"
        units[f"query_exec.{name}_jobs"] = "count"
    units["query_exec.execute_stages"] = "count"
    units["query_exec.execute_tasks"] = "count"
    units["query_exec.jobs_per_query"] = "count"
    for shape in SHAPES:
        units[f"query_exec.jobs_per_query.{shape}"] = "count"
    units["query_exec.decoded_rows_per_result"] = "count"
    units["tokenizer.tokens_per_s"] = "1/s"
    units["blocks.encode_postings_per_s"] = "1/s"
    units["blocks.decode_postings_per_s"] = "1/s"
    units["codecs.varbyte_decode_values_per_s"] = "1/s"
    units["codecs.gamma_decode_values_per_s"] = "1/s"
    for layer in ("bench", "ingest", "index_build", "parser", "query_exec"):
        units[f"{layer}.self_s"] = "s"
    units["trace.query_overhead_s"] = "s"
    units["trace.query_overhead_frac"] = "ratio"
    units["host.alloc_gbps_before"] = "GB/s"
    units["host.alloc_gbps_after"] = "GB/s"
    return units


LAYER_UNITS = _layer_units()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = Run(ap.parse_args()).main()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
