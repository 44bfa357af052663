"""``curate``: back-to-back batch passes of the offline curation
pipeline over a seeded corpus.

One pass runs every stage on the same inputs, each stage to its action:
exact dedup, MinHash near-duplicates, the containment join of an eval
set against the corpus, the inverted index, the similarity edges of a
bounded vector slice, and connected components plus PageRank over that
graph. The corpus carries planted exact duplicates, planted
near-duplicates and eval passages planted verbatim in corpus documents,
so every stage's answer is checked against a reference computed from
the generated data.
"""

from __future__ import annotations

import time

import numpy as np

import gen
from common import JobCounter, median

N_BASE = 2000
N_EXACT = 100
N_NEAR = 40
N_EVAL = 60
N_PLANTED = 20
N_VECTORS = 250
EDGE_THRESHOLD = 55.0
CONTAINMENT = 0.8
JACCARD = 0.5
SMALL_CUTOVER = 200_000  # graph_algos' default driver-finisher bound
# a cold pass takes 20-25 s on a 4-core host; a run makes one per
# PASS_S of --seconds, at least one, whatever the host's speed
PASS_S = 20.0

STAGES = (
    "operators.dedup.dedup_exact",
    "operators.dedup.minhash_near_dups",
    "operators.dedup.containment_join_prefix",
    "operators.postings.build_postings",
    "compat.graph.build_similarity_edges",
    "operators.graph_algos.connected_components",
    "operators.graph_algos.pagerank",
)


class Workload:
    name = "curate"

    def __init__(self, seed: int, run_dir):
        self.corpus = c = gen.Corpus(seed, N_BASE, N_EXACT, N_NEAR, N_EVAL, N_PLANTED, N_VECTORS)
        c.write(run_dir.sub("data"))
        self.data_dir = run_dir.sub("data")
        self.want_survivors = c.exact_survivors()
        self.want_contained = c.contained_pairs(CONTAINMENT)
        self.want_postings = c.postings()
        self.want_edges = c.edges(EDGE_THRESHOLD)
        self.want_components = gen.union_find_components(
            {n for e in self.want_edges for n in e}, self.want_edges
        )
        self.must_pair = {tuple(sorted(p)) for p in c.near_pairs + c.exact_pairs}
        self.pass_s: list[float] = []
        self.stage_s = {s: [] for s in STAGES}
        self.stage_jobs = {s: [] for s in STAGES}

    def build_engine(self, spark):
        """Curation needs only the session; the inputs are read per pass."""
        return spark

    # -- one pass -----------------------------------------------------------

    def _pass(self, spark, tracer, jobs: JobCounter | None, tag: str) -> tuple[float, dict]:
        from pyspark.sql import functions as F

        from providenciasbigdata_spark.compat import documents, graph
        from providenciasbigdata_spark.operators import dedup, graph_algos, postings

        d = self.data_dir
        docs = spark.read.parquet(f"{d}/documents.parquet")
        evals = spark.read.parquet(f"{d}/eval.parquet")
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        results = {}
        timings = {}

        def stage(name, fn):
            group = f"{tag}-{name}"
            if jobs is not None:
                jobs.begin(group)
            t0 = time.perf_counter()
            with tracer.span(name):
                results[name] = fn()
            timings[name] = time.perf_counter() - t0
            if jobs is not None:
                self.stage_jobs[name].append(jobs.count(group)[0])

        def released(out, action):
            try:
                return action(out)
            finally:
                dedup.release(out)

        t_pass = time.perf_counter()
        with tracer.span("curate.pass"):
            stage(STAGES[0], lambda: {r.doc_id for r in dedup.dedup_exact(docs).select("doc_id").collect()})
            stage(STAGES[1], lambda: released(
                dedup.minhash_near_dups(docs, threshold=JACCARD),
                lambda out: [(r.left_id, r.right_id, r.jaccard) for r in out.collect()],
            ))
            stage(STAGES[2], lambda: released(
                dedup.containment_join_prefix(docs.unionByName(evals), threshold=CONTAINMENT),
                lambda out: {
                    (r.inner_id, r.outer_id)
                    for r in out.filter(
                        (F.col("inner_id") >= gen.EVAL_ID_BASE)
                        & (F.col("outer_id") < gen.EVAL_ID_BASE)
                    ).collect()
                },
            ))
            stage(STAGES[3], lambda: {
                r.token: (list(r.postings), r.df)
                for r in postings.build_postings(
                    docs.select("doc_id", documents.tokenize(F.col("text")).alias("tokens"))
                ).collect()
            })

            def edges_build():
                e = (
                    graph.build_similarity_edges(emb)
                    .filter(F.col("similitud") >= EDGE_THRESHOLD)
                    .persist()
                )
                return e, {(r.src, r.dst): r.similitud for r in e.collect()}

            stage(STAGES[4], edges_build)
            edges = results[STAGES[4]][0]
            stage(STAGES[5], lambda: {
                r.id: r.component for r in graph_algos.connected_components(edges).collect()
            })
            stage(STAGES[6], lambda: {r.id: r.rank for r in graph_algos.pagerank(edges).collect()})
            edges.unpersist()
        sec = time.perf_counter() - t_pass
        for name, t in timings.items():
            self.stage_s[name].append(t)
        return sec, results

    # -- checks -------------------------------------------------------------

    def check(self, r) -> list[str]:
        c = self.corpus
        wrong = []
        if r[STAGES[0]] != self.want_survivors:
            wrong.append("dedup_exact survivors differ")
        pairs = {}
        for a, b, j in r[STAGES[1]]:
            pairs[(min(a, b), max(a, b))] = j
        if not self.must_pair <= set(pairs):
            wrong.append(f"minhash missed {len(self.must_pair - set(pairs))} planted pairs")
        if any(j < JACCARD or abs(j - c.jaccard(a, b)) > 1e-6 for (a, b), j in pairs.items()):
            wrong.append("minhash returned a pair with a wrong jaccard")
        if r[STAGES[2]] != self.want_contained:
            wrong.append("containment pairs differ")
        if not set(c.planted) <= r[STAGES[2]]:
            wrong.append("containment missed a planted passage")
        got_post = r[STAGES[3]]
        if got_post.keys() != self.want_postings.keys() or any(
            got_post[t] != (p, len(p)) for t, p in self.want_postings.items()
        ):
            wrong.append("postings differ")
        got_edges = r[STAGES[4]][1]
        want = {(f"P-{a}", f"P-{b}"): v for (a, b), v in self.want_edges.items()}
        if got_edges.keys() != want.keys() or any(
            abs(got_edges[k] - v) > 2e-4 for k, v in want.items()
        ):
            wrong.append("similarity edges differ")
        comps = r[STAGES[5]]
        if len(set(comps.values())) != self.want_components or len(comps) != len(
            {n for e in want for n in e}
        ):
            wrong.append("component count differs from union-find")
        ranks = r[STAGES[6]]
        if abs(sum(ranks.values()) - 1.0) > 1e-6 or len(ranks) != len(comps):
            wrong.append("pagerank does not sum to 1 over the graph's nodes")
        return wrong

    # -- loop ---------------------------------------------------------------

    def warm_up(self, spark, tracer) -> None:
        """None: a curation job is a batch run in a fresh session, so its
        first pass pays the session's JIT and worker start-up every time
        the job runs, and the benchmark measures it the same way."""

    def measure(self, spark, seconds: float, tracer, cpu) -> tuple[int, int]:
        """Closed loop of passes, one per ``PASS_S`` of ``seconds`` and at
        least one. The count does not depend on the clock, so a slow host
        runs the same passes as a fast one."""
        jobs = JobCounter(spark) if tracer.enabled else None
        attempted = failed = 0
        t_start = time.perf_counter()
        for i in range(max(1, round(seconds / PASS_S))):
            attempted += 1
            try:
                with cpu.op():
                    sec, results = self._pass(spark, tracer, jobs, f"pass{i}")
                wrong = self.check(results)
            except Exception as exc:  # a failed pass counts, the loop goes on
                print(f"pass {i} failed: {exc!r}"[:400])
                failed += 1
                continue
            self.pass_s.append(sec)
            if wrong:
                print(f"pass {i}: " + "; ".join(wrong))
                failed += 1
        self.elapsed = time.perf_counter() - t_start
        self.spark = spark
        return attempted, failed

    def _lsh_ratio(self, spark) -> None:
        """Verified near-duplicate pairs per LSH candidate pair, counted
        once outside the timed passes (same signature family and bands
        as ``minhash_near_dups``' defaults)."""
        from providenciasbigdata_spark.operators import dedup

        docs = spark.read.parquet(f"{self.data_dir}/documents.parquet")
        sigs = dedup.minhash_signature(docs)
        self.candidates = dedup.minhash_lsh_pairs(sigs).count()
        out = dedup.minhash_near_dups(docs, threshold=JACCARD)
        self.verified = out.count()
        dedup.release(out)

    # -- report -------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        n_docs = len(self.corpus.ids)
        return {
            "latency_p50_s": median(self.pass_s),
            "throughput_per_s": n_docs * len(self.pass_s) / self.elapsed,
        }

    def notes(self) -> dict:
        n_edges = len(self.want_edges)
        return {
            "passes": len(self.pass_s),
            "corpus_docs": len(self.corpus.ids),
            "similarity_edges": n_edges,
            "edges_side_of_small_cutover": "below" if n_edges <= SMALL_CUTOVER else "above",
        }

    def per_layer(self, tracer) -> dict[str, float]:
        self._lsh_ratio(self.spark)
        out = {}
        for s in STAGES:
            out[f"{s}_s"] = median(self.stage_s[s])
            out[f"{s}.jobs"] = float(np.mean(self.stage_jobs[s]))
        out["operators.dedup.lsh_verified_per_candidate"] = self.verified / max(self.candidates, 1)
        out["compat.graph.similarity_edges"] = float(len(self.want_edges))
        out["operators.graph_algos.edges_per_small_cutover"] = len(self.want_edges) / SMALL_CUTOVER
        return out
