"""``interactive``: one analyst in a closed loop, replaying seeded
reference-app sessions.

Page 1 ("Resultados de los Filtros"): the facet lists, the
providencia/tipo/anio filters, texto terms and a quoted phrase, an MQL
``find`` page with sort+limit, and ``count_documents``. Page 2 ("Filtrar
por Similitudes"): the node list, one anchor whose similitud slider is
moved two or three times, and the reference's two Cypher templates.

Each request is split into the layer call that returns the DataFrame
(build), the forced physical plan (traced runs only) and the action
(exec), so the layer numbers show where a page request spends its time.
``build`` returns the very frame the action runs, so the plan forced in
a traced run is the plan the action reuses, not a second one.

The request sequence follows the reference app's two pages. The
distributions that pick each request's arguments (the Zipf skew of the
``tipo`` choice, the document-frequency bands of the query terms, the
slider positions) are assumptions: no user logs exist to fit them to.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import gen
from common import JobCounter, median, percentile

N_DOCS = 4000
PAGE = 10
# a warm session takes about 5 s on a 4-core host; a run makes one per
# SESSION_S of --seconds, at least two, whatever the host's speed
SESSION_S = 5.0
MIN_SESSIONS = 2

CYPHER_NODE_SCAN = "MATCH (p:Providencia) RETURN p.id AS id"
CYPHER_NEIGHBORHOOD = (
    "MATCH (a:Providencia {id: $providencia})-[r:SIMILAR]->(b:Providencia) "
    "WHERE r.similitud >= $rango_min AND r.similitud <= $rango_max "
    "RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud"
)

LAYERS = ("compat.documents", "compat.ir", "compat.cypher", "compat.graph")


@dataclass
class Request:
    layer: str
    key: tuple
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], bool]
    selectivity: float | None = None


def _shown(df):
    """``df`` with only the columns ``documents.to_result_frame`` keeps.
    Dropping the others here, in the build, leaves ``to_result_frame`` nothing to drop, so
    its ``toPandas`` runs on this frame and reuses its plan."""
    return df.drop(*[c for c in ("doc_id", "tokens") if c in df.columns])


def _ids(frame) -> set[str]:
    return set(frame["providencia"]) if "providencia" in frame.columns else set()


def same_weights(got: dict, want: dict, lo: float, hi: float, tol: float = 2e-4) -> bool:
    """Neighbourhoods agree up to last-digit rounding: values within
    ``tol``, and an edge present on one side only must sit on a slider
    boundary."""
    def on_edge(v):
        return abs(v - lo) <= tol or abs(v - hi) <= tol

    for k, v in got.items():
        if k in want:
            if abs(v - want[k]) > tol:
                return False
        elif not on_edge(v):
            return False
    return all(k in got or on_edge(v) for k, v in want.items())


class Workload:
    name = "interactive"

    def __init__(self, seed: int, run_dir):
        self.seed = seed
        self.coll = gen.Collection(seed, N_DOCS)
        self.coll.write(run_dir.sub("data"))
        self.data_dir = run_dir.sub("data")
        freq = sorted(self.coll.doc_freq.items(), key=lambda kv: kv[1])
        # query-term pools by document frequency: rare (<0.5% of docs)
        # and mid (0.5-5%); the bands are an assumption, not fitted to
        # any query log
        self.rare = [t for t, d in freq if d < 0.005 * N_DOCS]
        self.mid = [t for t, d in freq if 0.005 * N_DOCS <= d < 0.05 * N_DOCS]
        self.seen: set[tuple] = set()
        self.latencies: list[float] = []
        self.traced_lat: list[float] = []
        self.untraced_lat: list[float] = []
        self.repeats = 0
        self.selectivity: list[float] = []
        self.layer_counts = {l: {"jobs": [], "tasks": []} for l in LAYERS}

    def build_engine(self, spark):
        from providenciasbigdata_spark.engine import ProvidenciasEngine

        return ProvidenciasEngine(spark, self.data_dir)

    # -- sessions ---------------------------------------------------------

    def session(self, eng, s: int, stream: int = 10) -> list[Request]:
        from providenciasbigdata_spark.compat import documents as docs
        from providenciasbigdata_spark.compat import graph
        from providenciasbigdata_spark.compat import ir

        c = self.coll
        rng = np.random.default_rng([self.seed, stream, s])
        tipos = c.facet("tipo")
        # assumed: analysts revisit the popular ruling types, Zipf over
        # the facet
        tipo = tipos[int(rng.choice(len(tipos), p=gen.zipf_weights(len(tipos), 1.2, 1.0)))]
        anio = int(rng.integers(2000, 2025))
        doc = int(rng.integers(N_DOCS))
        pid = c.providencia[doc]
        terms = [str(rng.choice(self.rare)), str(rng.choice(self.mid))]
        host = c.tokens[int(rng.integers(N_DOCS))]
        j = int(rng.integers(len(host) - 1))
        phrase = host[j : j + 2]
        anio_gte = int(rng.integers(2000, 2025))
        anchor = int(rng.integers(N_DOCS))
        apid = c.providencia[anchor]
        # the slider's domain is the reference's [0, 100]; starting at
        # the full range and the positions it is moved to are assumed
        sliders = [(0.0, 100.0)] + [
            (float(rng.choice([10.0, 20.0, 30.0, 40.0, 50.0])), float(rng.choice([80.0, 90.0, 100.0])))
            for _ in range(2)
        ]

        def facet(field):
            want = c.facet(field)
            return Request(
                "compat.documents", ("facet", field),
                lambda: docs.distinct_values(eng.rulings(), field),
                lambda df: [r[0] for r in df.collect()],
                lambda got: got == want,
            )

        def filt(field, value):
            want = c.filter_ids(field, value)
            return Request(
                "compat.documents", ("filter", field, value),
                lambda: _shown(eng.query_rulings(**{field: value})),
                docs.to_result_frame,
                lambda got: _ids(got) == want,
            )

        def search(texto, want):
            return Request(
                "compat.documents", ("texto", texto),
                lambda: _shown(eng.query_rulings(texto=texto)),
                docs.to_result_frame,
                lambda got: _ids(got) == want,
                selectivity=len(want) / N_DOCS,
            )

        def neighbourhood(lo, hi):
            want = c.neighbourhood(anchor, lo, hi)
            return Request(
                "compat.graph", ("neighbourhood", apid, lo, hi),
                lambda: eng.similarity_neighborhood(apid, lo, hi),
                lambda df: {r.destino: r.similitud for r in df.collect()},
                lambda got: same_weights(got, want, lo, hi),
            )

        want_page = c.find_page(tipo, PAGE)
        want_count = c.count(tipo, anio_gte)
        want_nodes = c.node_ids()
        lo, hi = sliders[-1]
        want_cypher = c.neighbourhood(anchor, lo, hi)
        reqs = [
            facet("tipo"),
            facet("anio"),
            filt("tipo", tipo),
            filt("anio", anio),
            filt("providencia", pid),
            search(" ".join(terms), c.search_ids(terms)),
            search('"' + " ".join(phrase) + '"', c.search_ids([], phrase)),
            Request(
                "compat.ir", ("find", tipo),
                lambda: eng.query_mongo(
                    {"tipo": tipo},
                    projection={"providencia": 1, "anio": 1},
                    sort=[("anio", -1), ("providencia", 1)],
                    limit=PAGE,
                ),
                lambda df: [(r.providencia, r.anio) for r in df.collect()],
                lambda got: got == want_page,
            ),
            Request(
                "compat.ir", ("count", tipo, anio_gte),
                lambda: ir.mql_count_documents(
                    eng.rulings(), {"tipo": tipo, "anio": {"$gte": anio_gte}}
                ),
                # one row: collect it rather than first(), whose limit
                # would plan a new query
                lambda df: df.collect()[0]["n"],
                lambda got: got == want_count,
            ),
            Request(
                "compat.graph", ("node_ids",),
                lambda: graph.list_nodes(eng.nodes()),
                lambda df: [r.id for r in df.collect()],
                lambda got: got == want_nodes,
            ),
            *[neighbourhood(a, b) for a, b in sliders],
            Request(
                "compat.cypher", ("cypher_nodes",),
                lambda: eng.run_cypher(CYPHER_NODE_SCAN),
                lambda df: {r.id for r in df.collect()},
                lambda got: got == set(want_nodes),
            ),
            Request(
                "compat.cypher", ("cypher_neighbourhood", apid, lo, hi),
                lambda: eng.run_cypher(
                    CYPHER_NEIGHBORHOOD,
                    {"providencia": apid, "rango_min": lo, "rango_max": hi},
                ),
                lambda df: {r.destino: r.similitud for r in df.collect()},
                lambda got: same_weights(got, want_cypher, lo, hi),
            ),
        ]
        return reqs

    # -- one request --------------------------------------------------------

    def execute(
        self, req: Request, tracer, jobs: JobCounter | None, rid: str, cpu=None
    ) -> tuple[float, bool]:
        tracer.request_id = rid
        if jobs is not None:
            jobs.begin(rid)
        with cpu.op() if cpu is not None else nullcontext():
            t0 = time.perf_counter()
            with tracer.span(req.layer):
                with tracer.span(req.layer + ".build"):
                    df = req.build()
                if tracer.enabled:
                    with tracer.span(req.layer + ".plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span(req.layer + ".exec"):
                    got = req.act(df)
            sec = time.perf_counter() - t0
        if jobs is not None:
            n_jobs, n_tasks = jobs.count(rid)
            self.layer_counts[req.layer]["jobs"].append(n_jobs)
            self.layer_counts[req.layer]["tasks"].append(n_tasks)
        return sec, bool(req.check(got))

    def warm_up(self, eng, tracer) -> None:
        for i, req in enumerate(self.session(eng, 0, stream=11)):
            self.execute(req, tracer.__class__(False), None, f"warm-{i}")

    def measure(self, eng, seconds: float, tracer, cpu) -> tuple[int, int]:
        """Closed loop of whole sessions, one per ``SESSION_S`` of
        ``seconds``. The count does not depend on the clock, so a run on
        a slow host does the same work, with the same request mix and
        the same JIT warm-up behind it, as one on a fast host. In traced
        runs every other session is untraced, so the run also measures
        the tracing overhead."""
        jobs = JobCounter(eng.spark) if tracer.enabled else None
        off = tracer.__class__(False)
        attempted = failed = 0
        n_sessions = max(MIN_SESSIONS, round(seconds / SESSION_S))
        self.t_start = time.perf_counter()
        for s in range(n_sessions):
            traced = tracer.enabled and s % 2 == 0
            for i, req in enumerate(self.session(eng, s)):
                if req.key in self.seen:
                    self.repeats += 1
                self.seen.add(req.key)
                if req.selectivity is not None:
                    self.selectivity.append(req.selectivity)
                attempted += 1
                try:
                    sec, ok = self.execute(
                        req, tracer if traced else off, jobs if traced else None, f"s{s}-r{i}", cpu
                    )
                except Exception as exc:  # a failed request counts, the loop goes on
                    print(f"request s{s}-r{i} {req.key[0]} failed: {exc!r}"[:400])
                    failed += 1
                    continue
                self.latencies.append(sec)
                (self.traced_lat if traced else self.untraced_lat).append(sec)
                if not ok:
                    print(f"request s{s}-r{i} {req.key} returned a wrong answer")
                    failed += 1
        self.elapsed = time.perf_counter() - self.t_start
        self.sessions = n_sessions
        return attempted, failed

    # -- report -------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        lat = self.latencies
        return {
            "latency_p50_s": median(lat),
            "throughput_per_s": len(lat) / self.elapsed,
        }

    def notes(self) -> dict:
        lat = self.latencies
        sel = self.selectivity
        # the highest percentile with at least ten samples beyond it
        tail = int(100 * (1 - 10 / len(lat))) if len(lat) > 10 else 50
        return {
            "requests": len(lat),
            "sessions": self.sessions,
            "latency_p95_s": percentile(lat, 95),
            "samples_beyond_p95": int(sum(1 for x in lat if x > percentile(lat, 95))),
            f"latency_p{tail}_s": percentile(lat, tail),
            "repeated_share": self.repeats / max(len(lat), 1),
            "texto_selectivity_min": min(sel),
            "texto_selectivity_median": median(sel),
            "texto_selectivity_max": max(sel),
        }

    def per_layer(self, tracer) -> dict[str, float]:
        names = tracer.by_name()
        out = {}
        for layer in LAYERS:
            for part in ("build", "plan", "exec"):
                durs = names.get(f"{layer}.{part}", {}).get("durations", [])
                out[f"{layer}.{part}_s"] = median(durs) if durs else 0.0
            for k in ("jobs", "tasks"):
                v = self.layer_counts[layer][k]
                out[f"{layer}.{k}"] = float(np.mean(v)) if v else 0.0
        out["trace.overhead_s"] = median(self.traced_lat) - median(self.untraced_lat)
        return out
