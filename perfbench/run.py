"""KG benchmark: a cold graph build of a seeded synth corpus.

Run from the repository root:

    python3 perfbench/run.py --cores 4 --workload synth --seed 1 --seconds 45 --trace 0
    python3 perfbench/run.py --cores 4 --workload longdocs --seed 1 --seconds 45 --repeat 5

One run is one process on ``local[cores]``. An untraced run (``--trace 0``)
first starts the Spark session ``SETUPS`` times, each in a fresh driver JVM,
stopping all but the last (``setup_s`` is their median). It then makes
``seconds // 45`` rounds (at least one), so every run of a workload attempts
the same operations. A round is ``pipeline.build_graph`` of the seeded
corpus, ending in counted edges. In the first round this is the first build
of the process, which is what a batch job pays. ``build_ref_cpu_s`` is the
build's CPU seconds over the whole process tree, scaled by a fixed Python
loop timed just before and after it (``trace.loop_cpu_s``), so that the
load of other tenants on a shared machine moves it less than it moves wall
time.

A traced run (``--trace 1``) starts the session once and records spans
around the engine's layers: the same build, split into extraction and join
phase; entity linking over the built graph; then, over the corpus without
padding, ``incremental.full_build`` into a stage store, a pass of the read
mix over the stored graph (six ``cypher.run_cypher`` queries,
``queries.find_with_prefix``, a callers-of lookup and ``queries.dead_code``,
each run to ``collect()``), ``incremental_build`` of the unchanged corpus,
and ``incremental_build`` of the corpus plus one leaf document (the scoped
path).

Every output is checked against answers computed without the engine
(``oracle.py``), outside the timed calls; an operation that raises or gives
a wrong answer counts as failed. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). A run
that has no sample for a metric prints no result and exits with code 1.
``--repeat K`` runs K such processes, one after the other, with seeds
``seed .. seed+K-1`` and prints each metric's median and quartiles.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path.cwd()
TMP = ROOT / ".perfbench_tmp"  # session scratch + stage store; removed at exit
OUT = ROOT / ".perfbench_out"  # span dumps of traced runs
ROUND_S = 45
SETUPS = 3
# workload -> padding lines per module doc
WORKLOADS = {"synth": 0, "longdocs": 8000}

# CPU seconds of ``trace.loop_cpu_s`` on the reference machine, the speed
# ``build_ref_cpu_s`` is scaled to
REF_LOOP_CPU_S = 1.15

E2E_UNITS = {"setup_s": "s", "build_ref_cpu_s": "s"}

LAYER_UNITS = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.full_gcs": "count",
    "extract.s": "s",
    "extract.cpu_s": "s",
    "extract.jobs": "count",
    "extract.gc_s": "s",
    "extract.mention_rows": "count",
    "pipeline.s": "s",
    "pipeline.cpu_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.gc_s": "s",
    "pipeline.rss_growth_mb": "MB",
    "pipeline.triples": "count",
    "linking.s": "s",
    "linking.candidates_s": "s",
    "linking.cc_s": "s",
    "linking.rewrite_s": "s",
    "linking.jobs": "count",
    "linking.candidate_pairs": "count",
    "linking.merged_entities": "count",
    "incremental.store_write_s": "s",
    "incremental.store_write_jobs": "count",
    "incremental.store_written_mb": "MB",
    "incremental.hash_write_s": "s",
    "incremental.probe_s": "s",
    "incremental.probe_jobs": "count",
    "cypher.compile_ms": "ms",
    "cypher.exec_ms": "ms",
    "cypher.jobs": "count",
    "queries.lookup_ms": "ms",
    "queries.lookup_jobs": "count",
    "queries.reach_ms": "ms",
    "queries.reach_jobs": "count",
    "incremental.sync_s": "s",
    "incremental.sync_cpu_s": "s",
    "incremental.sync_jobs": "count",
    "incremental.sync_gc_s": "s",
    "incremental.sync_rss_growth_mb": "MB",
    "incremental.sync_probe_s": "s",
    "incremental.sync_radius_s": "s",
    "incremental.sync_assemble_s": "s",
    "incremental.sync_store_write_s": "s",
    "incremental.sync_store_written_mb": "MB",
    "incremental.radius_docs": "count",
    "incremental.radius_per_changed": "ratio",
    "traced.build_s": "s",
    "traced.build_cpu_s": "s",
}


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from it."""
    shutil.rmtree(TMP, ignore_errors=True)
    for sub in ("spark", "java", "py"):
        (TMP / sub).mkdir(parents=True)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), *paths])
    os.environ["SPARK_LOCAL_DIRS"] = str(TMP / "spark")
    os.environ["TMPDIR"] = str(TMP / "py")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={TMP / 'java'} -XX:-UsePerfData"
    )
    sys.path.insert(0, str(ROOT))


def _median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


class Run:
    """One workload run: session start, rounds, checks and their metrics."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {k: [] for k in E2E_UNITS}
        self.build_raw: list[tuple[float, float, float]] = []
        self.rounds = max(1, args.seconds // ROUND_S)
        self.spark = None

    def op(self, name: str, fn, check):
        """Run one operation, timing only the call, then check its output.
        Returns (output, seconds), or (None, seconds) when it raised or its
        output is wrong; either way it counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {name} raised:", file=sys.stderr)
            traceback.print_exc()
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if not check(out):
            self.failed += 1
            print(f"[perfbench] {name}: output differs from expected", file=sys.stderr)
            return None, dt
        return out, dt

    def graph_ok(self, g, leaf=None) -> bool:
        """``g`` equals the analytic graph, plus ``leaf``'s rows if given."""
        from perfbench.oracle import norm

        want_nodes, want_edges = self.exp.nodes, self.exp.edges
        if leaf is not None:
            want_nodes = norm(want_nodes + leaf.nodes())
            want_edges = norm(want_edges + leaf.edges())
        nodes = norm(g.nodes.select("label", "id", "name").collect())
        edges = norm(
            g.edges.select("subj", "pred", "obj", "subj_label", "obj_label").collect()
        )
        if nodes == want_nodes and edges == want_edges:
            return True
        print(
            f"[perfbench] graph: {len(set(nodes) ^ set(want_nodes))} node rows "
            f"and {len(set(edges) ^ set(want_edges))} edge rows differ",
            file=sys.stderr,
        )
        return False

    def documents(self, corpus, extra=()):
        from code_graph_rag_spark.schema import DOCUMENTS_SCHEMA

        return self.spark.createDataFrame(
            corpus.rows + list(extra), schema=DOCUMENTS_SCHEMA
        )

    # ---- session ---------------------------------------------------------
    def start_sessions(self) -> None:
        """Start the session ``SETUPS`` times (once when traced), each in a
        fresh driver JVM, keeping the last; record each start's time."""
        from code_graph_rag_spark.session import get_spark

        starts = 1 if self.args.trace else SETUPS
        for k in range(starts):
            t0 = time.perf_counter()
            spark = get_spark(
                cores=self.args.cores,
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": str(TMP / "spark"),
                },
            )
            self.samples["setup_s"].append(time.perf_counter() - t0)
            if k < starts - 1:
                _stop_session(spark)
        self.spark = spark

    # ---- untraced rounds ---------------------------------------------------
    def build_round(self, docs) -> None:
        from code_graph_rag_spark.pipeline import build_graph
        from perfbench.trace import loop_cpu_s, tree_cpu_s

        cpu = []
        loop0 = loop_cpu_s()

        def build():
            c0 = tree_cpu_s()
            g = build_graph(docs)
            g.edges.count()
            cpu.append(tree_cpu_s() - c0)
            return g

        g, dt = self.op("build_graph", build, self.graph_ok)
        loop = (loop0 + loop_cpu_s()) / 2
        if g is not None:
            self.samples["build_ref_cpu_s"].append(cpu[0] * REF_LOOP_CPU_S / loop)
            self.build_raw.append((dt, cpu[0], loop))
            g.unpersist()

    # ---- traced steps ------------------------------------------------------
    def traced_build(self, docs):
        """``build_graph`` with its extraction and join phase wrapped from
        outside, each forced to materialize at its boundary."""
        from code_graph_rag_spark import pipeline

        tr = self.tracer
        extract_mentions = pipeline.extract_mentions
        build_graph_from_mentions = pipeline.build_graph_from_mentions

        def extract(*a, **kw):
            with tr.span("extract") as rec:
                raw = extract_mentions(*a, **kw).localCheckpoint(eager=True)
                rec["rows"] = raw.count()
            return raw

        def join_phase(*a, **kw):
            with tr.span("pipeline") as rec:
                g = build_graph_from_mentions(*a, **kw)
                rec["rows"] = g.edges.count()
            return g

        def build():
            with patched(pipeline, extract_mentions=extract,
                         build_graph_from_mentions=join_phase):
                return pipeline.build_graph(docs)

        def timed():
            with tr.span("build"):
                return build()

        g, _dt = self.op("build_graph (traced)", timed, self.graph_ok)
        return g

    def link(self, g) -> None:
        """``canonicalize_entities`` over the built graph's Function, Method,
        Class and Module entities, then ``rewrite_edges_canonical`` of its
        edges; both checked against the twin."""
        from pyspark.sql import functions as F

        from code_graph_rag_spark import linking
        from perfbench.oracle import LINK_AGREEMENT, LINK_LABELS, norm

        tr = self.tracer
        want_mapping, want_triples = self.exp.canonical()
        lsh_link_candidates = linking.lsh_link_candidates
        connected_components = linking.connected_components

        def candidates(*a, **kw):
            with tr.span("link.candidates") as rec:
                pairs = lsh_link_candidates(*a, **kw).localCheckpoint(eager=True)
                rec["rows"] = pairs.count()
            return pairs

        def components(*a, **kw):
            with tr.span("link.cc"):
                return connected_components(*a, **kw).localCheckpoint(eager=True)

        def canonicalize():
            ents = g.nodes.filter(F.col("label").isin(*LINK_LABELS)).select(
                F.col("id").alias("qualified_name"))
            with tr.span("link"), patched(
                    linking, lsh_link_candidates=candidates,
                    connected_components=components):
                mdf = linking.canonicalize_entities(
                    ents, min_agreement=LINK_AGREEMENT).localCheckpoint(eager=True)
                with tr.span("link.rewrite"):
                    triples = linking.rewrite_edges_canonical(
                        g.edges, mdf).select("subj", "pred", "obj").collect()
            mapping = mdf.collect()
            return norm(mapping), norm(triples)

        def check(out) -> bool:
            mapping, triples = out
            canon = dict(mapping)
            # min-id idempotence: a canonical id is the least of its
            # component and maps to itself
            idempotent = all(c <= e and canon.get(c) == c for e, c in mapping)
            return idempotent and mapping == want_mapping and triples == want_triples

        out, _dt = self.op("canonicalize_entities + rewrite_edges_canonical",
                           canonicalize, check)
        if out is not None:
            self.merged = sum(1 for e, c in out[0] if e != c)

    def store_build(self, docs, store):
        """``full_build`` into the stage store, its stage writes wrapped."""
        from code_graph_rag_spark import incremental

        def build():
            with patched(incremental.StageStore,
                         write_stage=_traced_write(self.tracer, "store_write", [])):
                g = incremental.full_build(self.spark, docs, store)
                g.edges.count()
            return g

        g, _dt = self.op("full_build", build, self.graph_ok)
        return g

    def sync_nochange(self, docs, store) -> None:
        """``incremental_build`` of the unchanged corpus (hash, diff, graph
        served from the stored stages)."""
        from code_graph_rag_spark.incremental import incremental_build

        def sync():
            with self.tracer.span("probe"):
                g, stats = incremental_build(self.spark, docs, store)
                g.edges.count()
            if stats.get("mode") != "noop":
                raise RuntimeError(f"a no-change sync ran as {stats}")
            return g

        self.op("incremental_build (no change)", sync, self.graph_ok)

    def scoped_sync(self, corpus, store) -> None:
        """Add one leaf doc and sync it. The sync's eager internals (blast
        radius, scoped assembly, stage writes) are wrapped from outside; the
        graph must gain exactly the leaf's rows."""
        from code_graph_rag_spark import incremental
        from perfbench import gen

        tr = self.tracer
        leaf = gen.make_leaf(self.args.seed, corpus.n_docs)
        docs = self.documents(corpus, [leaf.doc()])
        blast_radius = incremental.blast_radius
        assemble_graph = incremental.assemble_graph
        writes: list[float] = []

        def radius(*a, **kw):
            with tr.span("sync.radius"):
                return blast_radius(*a, **kw)

        def assemble(*a, **kw):
            with tr.span("sync.assemble"):
                g = assemble_graph(*a, **kw)
                g.edges.count()
            return g

        def sync():
            with tr.span("sync") as rec:
                t0 = time.perf_counter()
                g, stats = incremental.incremental_build(self.spark, docs, store)
                g.edges.count()
                # hash, diff and counts: the time before the first stage write
                rec.update(stats=stats, probe_s=(writes[0] if writes else t0) - t0)
            return g

        with patched(incremental, blast_radius=radius, assemble_graph=assemble), \
                patched(incremental.StageStore,
                        write_stage=_traced_write(tr, "sync.store_write", writes)):
            self.op("incremental_build (one leaf doc added)", sync,
                    lambda g: self.graph_ok(g, leaf))

    def read_mix(self, nodes, edges) -> None:
        """One pass of the read mix, each call run to ``collect()``."""
        from code_graph_rag_spark.cypher import run_cypher
        from code_graph_rag_spark.queries import dead_code, find_with_prefix
        from perfbench.oracle import CYPHER_MIX, norm

        tr, exp = self.tracer, self.exp
        for name, q, _sql in CYPHER_MIX:
            def cypher(q=q):
                with tr.span("cypher", query=name) as rec:
                    t0 = time.perf_counter()
                    df = run_cypher(nodes, edges, q)
                    t1 = time.perf_counter()
                    rows = df.collect()
                    rec.update(compile_ms=(t1 - t0) * 1e3,
                               exec_ms=(time.perf_counter() - t1) * 1e3)
                return rows

            self.op(f"cypher {name}", cypher,
                    lambda r, name=name: norm(r) == exp.cypher[name])

        callers_q = (
            f"MATCH (a)-[:CALLS]->(b {{qualified_name: '{exp.lookup_callee}'}}) "
            "RETURN a.qualified_name AS caller"
        )
        reads = [
            ("lookup", "find_with_prefix", exp.prefix,
             lambda: find_with_prefix(nodes, exp.lookup_prefix).collect()),
            ("lookup", "callers_of", exp.callers,
             lambda: run_cypher(nodes, edges, callers_q).collect()),
            ("reach", "dead_code", exp.dead,
             lambda: dead_code(nodes, edges).collect()),
        ]
        for span, name, want, fn in reads:
            def read(span=span, name=name, fn=fn):
                with tr.span(span, query=name) as rec:
                    t0 = time.perf_counter()
                    rows = fn()
                    rec["ms"] = (time.perf_counter() - t0) * 1e3
                return rows

            self.op(name, read, lambda r, want=want: norm(r) == want)

    def traced(self, docs) -> None:
        from code_graph_rag_spark.incremental import StageStore
        from perfbench import gen

        g = self.traced_build(docs)
        if g is not None:
            self.link(g)
            g.unpersist()
        # the store, read and sync steps run over the corpus without
        # padding, which keeps a traced longdocs run short
        corpus = gen.make_corpus(self.args.seed, 0)
        docs = self.documents(corpus)
        store = StageStore(str(TMP / "store"))
        g = self.store_build(docs, store)
        if g is None:
            return
        g.unpersist()
        self.read_mix(store.read_stage(self.spark, "nodes"),
                      store.read_stage(self.spark, "edges"))
        self.sync_nochange(docs, store)
        self.scoped_sync(corpus, store)

    def main(self) -> dict | None:
        from perfbench import gen
        from perfbench.oracle import Expected
        from perfbench.trace import Jvm, Tracer

        a = self.args
        self.start_sessions()
        self.jvm = Jvm(self.spark)
        self.tracer = Tracer(self.jvm, enabled=bool(a.trace))
        # inputs and expected answers are made after set-up is timed
        self.corpus = gen.make_corpus(a.seed, WORKLOADS[a.workload])
        rng = random.Random(a.seed)
        n = self.corpus.n_docs
        self.exp = Expected(
            n,
            prefix=gen.mod_qn(rng.randrange(n)),
            callee=gen.mod_qn(rng.randrange(n)) + ".fn_0",
        )
        docs = self.documents(self.corpus)
        if a.trace:
            self.traced(docs)
        else:
            for _rnd in range(self.rounds):
                self.build_round(docs)
        full_gcs = self.jvm.full_gcs()
        print(f"[perfbench] full GCs seen by the driver JVM: {full_gcs}; "
              f"peak RSS {self.jvm.peak_rss_mb():.0f} MB")
        for wall, cpu, loop in self.build_raw:
            print(f"[perfbench] build: wall {wall:.3f} s, CPU {cpu:.2f} s, "
                  f"reference loop {loop:.3f} s")
        if a.trace:
            metrics = self.layer_metrics(full_gcs)
            OUT.mkdir(exist_ok=True)
            out = OUT / f"spans_{a.workload}_{a.seed}.json"
            out.write_text(json.dumps(self.tracer.spans, indent=1))
            units = LAYER_UNITS
        else:
            metrics = {k: _median(v) for k, v in self.samples.items()}
            units = E2E_UNITS
        missing = sorted(k for k in units if metrics.get(k) is None)
        if missing:
            print(f"[perfbench] no sample for {', '.join(missing)}; "
                  f"{self.failed} of {self.attempted} operations failed",
                  file=sys.stderr)
            return None
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def layer_metrics(self, full_gcs: int) -> dict[str, float | None]:
        """Per-layer numbers from the spans whose calls returned: medians
        where a layer is called several times, totals over a step's spans
        otherwise. A metric with no span is None."""
        tr = self.tracer

        def vals(name, key):
            return [s[key] for s in tr.of(name) if s.get(key) is not None]

        def med(name, key="wall_s"):
            return _median(vals(name, key))

        def total(name, key="wall_s", stage=None):
            spans = [s for s in tr.of(name)
                     if s.get(key) is not None and stage in (None, s.get("stage"))]
            return sum(s[key] for s in spans) if spans else None

        m = {
            "session.start_s": _median(self.samples["setup_s"]),
            "jvm.peak_rss_mb": self.jvm.peak_rss_mb(),
            "jvm.full_gcs": full_gcs,
            "extract.mention_rows": med("extract", "rows"),
            "pipeline.triples": med("pipeline", "rows"),
            "linking.s": med("link"),
            "linking.candidates_s": med("link.candidates"),
            "linking.cc_s": med("link.cc"),
            "linking.rewrite_s": med("link.rewrite"),
            "linking.jobs": med("link", "jobs"),
            "linking.candidate_pairs": med("link.candidates", "rows"),
            "linking.merged_entities": getattr(self, "merged", None),
            "incremental.store_write_s": total("store_write"),
            "incremental.store_write_jobs": total("store_write", "jobs"),
            "incremental.store_written_mb": total("store_write", "written_mb"),
            "incremental.hash_write_s": total("store_write", stage="doc_hashes"),
            "incremental.probe_s": med("probe"),
            "incremental.probe_jobs": med("probe", "jobs"),
            "cypher.compile_ms": med("cypher", "compile_ms"),
            "cypher.exec_ms": med("cypher", "exec_ms"),
            "cypher.jobs": total("cypher", "jobs"),
            "queries.lookup_ms": med("lookup", "ms"),
            "queries.lookup_jobs": total("lookup", "jobs"),
            "queries.reach_ms": med("reach", "ms"),
            "queries.reach_jobs": total("reach", "jobs"),
            "traced.build_s": med("build"),
            "traced.build_cpu_s": med("build", "cpu_s"),
        }
        m["extract.s"] = med("extract")
        for key in ("cpu_s", "jobs", "gc_s"):
            m[f"extract.{key}"] = med("extract", key)
        m["pipeline.s"] = med("pipeline")
        for key in ("cpu_s", "jobs", "stages", "tasks", "gc_s", "rss_growth_mb"):
            m[f"pipeline.{key}"] = med("pipeline", key)
        for key in ("cpu_s", "jobs", "gc_s", "rss_growth_mb", "probe_s"):
            m[f"incremental.sync_{key}"] = med("sync", key)
        stats = vals("sync", "stats")
        radius = [st["scoped_docs"] for st in stats if "scoped_docs" in st]
        changed = [st.get("changed", 0) + st.get("deleted", 0) for st in stats]
        m.update({
            "incremental.sync_s": med("sync"),
            "incremental.sync_radius_s": total("sync.radius"),
            "incremental.sync_assemble_s": total("sync.assemble"),
            "incremental.sync_store_write_s": total("sync.store_write"),
            "incremental.sync_store_written_mb": total("sync.store_write", "written_mb"),
            "incremental.radius_docs": _median(radius),
            "incremental.radius_per_changed": _median(
                [r / c for r, c in zip(radius, changed) if c]),
        })
        return m


@contextmanager
def patched(owner, **attrs):
    """Set attributes of a module or class, restoring them on exit."""
    saved = {k: getattr(owner, k) for k in attrs}
    for k, v in attrs.items():
        setattr(owner, k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(owner, k, v)


def _traced_write(tr, span: str, starts: list[float]):
    """A ``StageStore.write_stage`` that records a span with the bytes of
    the version it wrote, and appends its start time to ``starts``."""
    from code_graph_rag_spark.incremental import StageStore
    from perfbench.trace import dir_bytes

    write_stage = StageStore.write_stage

    def wrapper(store, name, df, **kw):
        starts.append(time.perf_counter())
        with tr.span(span, stage=name) as rec:
            entry = write_stage(store, name, df, **kw)
            rec["written_mb"] = (
                dir_bytes(Path(store._vpath(name, entry["version"]))) / 2**20)
        return entry

    return wrapper


def _stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit, so that the next
    session starts a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _repeat(args) -> int:
    """Run ``args.repeat`` processes with consecutive seeds; print each
    metric's median, quartiles and quartile spread (IQR / median)."""
    results = []
    for k in range(args.repeat):
        seed = args.seed + k
        cmd = [
            sys.executable, str(Path(__file__).resolve()), "--cores", str(args.cores),
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-4000:])
            print(f"seed {seed}: exit {p.returncode}")
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        vals = {k2: round(v["value"], 3) for k2, v in res["metrics"].items()}
        raw = [ln.split("] ", 1)[1] for ln in lines
               if ln.startswith("[perfbench] build:")]
        print(f"seed {seed}: wall={time.perf_counter() - t0:.1f}s "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"correct={res['correct']} {vals} {raw}", flush=True)
    summary = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med,) * 3
        spread = (q3 - q1) / med if med else 0.0
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
        print(f"{name:32s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
              f"spread={spread:.4f}")
    print(json.dumps({"workload": args.workload, "runs": len(results),
                      "failed_share": [r["failed"] / r["attempted"] for r in results],
                      "summary": summary}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, required=True,
                   help="Spark runs on local[cores]")
    p.add_argument("--repeat", type=int, default=0,
                   help="run this many processes with consecutive seeds")
    args = p.parse_args(argv)
    if not (ROOT / "code_graph_rag_spark" / "pipeline.py").is_file():
        print("perfbench: run from the repository root; code_graph_rag_spark/ "
              "is not here", file=sys.stderr)
        return 2
    if args.repeat:
        return _repeat(args)
    _prepare_env()
    run = Run(args)
    try:
        result = run.main()
    finally:
        if run.spark is not None:
            _stop_session(run.spark)
        shutil.rmtree(TMP, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
