"""The benchmark's workloads.

Both workloads read an index of the fixed base corpus (``inputs.BASE_SEED``).
An untraced run takes it from ``.bench_build/perfbench/base-<key>/``, which
the first run of a checkout builds with ``run_build(force=True)``; ``<key>``
hashes the engine sources and ``perfbench/inputs.py`` (corpus and layout),
so two versions of the engine never share one.  A traced run builds it from
scratch inside the run instead, under spans, which gives the build layers
and ``build.docs_per_s``.  After its set-up (``query`` also warms the fresh
JVM with one query), each workload measures for ``--seconds``:

* ``query``: for 60% of the window, one client in a closed loop sending HTTP
  GET ``/search`` to the ``jobs/serve.py`` handler over an uncached
  ``PackedQueryEngine`` (``op_geomean_ms``); for the rest, repeated
  ``search_batch`` calls over one distinct-query mix with the engine tables
  cached as ``jobs/query_bench.py --batch`` does (``work_per_s`` = batch
  queries per second).
* ``refresh``: on a fresh copy of the base, a tiered ``run_append`` of a
  seeded delta and a ``run_delete`` of a seeded url sample (``work_per_s`` =
  geometric mean of pages appended per second and urls deleted per second,
  so each step weighs the same), then the HTTP loop over the
  multi-generation, tombstoned index for the rest of the window.

The loops run whole rounds of the query mix, at least ``MIN_ROUNDS`` of
them (one in a traced run, whose rounds are twice as long), and at least
``MIN_CALLS`` batch calls: a slow host lengthens the window instead of
thinning the samples.  With tracing on, spans are
recorded around the calls into each layer (see ``instrument``), the HTTP
loop sends every query twice, traced and untraced, and the batch loop
alternates traced and untraced calls, so the same run also measures the
trace overhead.
"""

from __future__ import annotations

import hashlib
import json
import math
import shutil
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from contextlib import contextmanager
from pathlib import Path

from perfbench import checks, inputs
from perfbench.metrics import BUILD_PHASES, CATALOG_TABLES, QUERY_CLASSES
from perfbench.trace import Span, Tracer, children, self_times

MB = 1024 * 1024
REPO = Path(__file__).resolve().parents[1]
HTTP_SHARE = 0.6   # of the query workload's window; batch calls get the rest
MIN_ROUNDS = {"query": 2, "refresh": 1}  # whole rounds per HTTP loop
MIN_CALLS = 5      # search_batch calls per batch loop


def http_schedule(round_len: int, traced: bool) -> list[tuple[int, bool]]:
    """One round of the HTTP loop as (position in the round, traced?).

    Untraced runs send each query once.  Traced runs send each twice,
    traced and untraced, alternating which goes first, so every class has
    traced samples in every round and each has an untraced twin for
    ``trace.overhead_frac``."""
    if not traced:
        return [(j, False) for j in range(round_len)]
    out = []
    for j in range(round_len):
        first = j % 2 == 0
        out += [(j, first), (j, not first)]
    return out


def batch_traced(i: int) -> bool:
    """ABBA order over batch calls: traced, untraced, untraced, traced, ..."""
    return i % 4 in (0, 3)


def source_key() -> str:
    """Hash of the engine sources and of ``perfbench/inputs.py``: a cached
    base index is only read by the code that built it."""
    files = sorted(f for f in (REPO / "search_engine_spark").rglob("*")
                   if f.suffix in (".py", ".c", ".h") and f.is_file())
    h = hashlib.sha256()
    for f in files + [Path(inputs.__file__).resolve()]:
        h.update(f.relative_to(REPO).as_posix().encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


@contextmanager
def instrument(tracer: Tracer):
    """Spans around the engine entry points a workload reaches indirectly:
    every ``IndexCatalog.write`` (one per build phase), ``swap``, the
    append's ``apply_delta`` and the query compiler."""
    from search_engine_spark.operators import pipeline
    from search_engine_spark.plans import wand
    from search_engine_spark.sources.catalog import IndexCatalog

    orig = (IndexCatalog.write, IndexCatalog.swap, pipeline.apply_delta,
            wand.compile_query)

    def write(self, table, df, *a, **kw):
        with tracer.span(f"write.{table}"):
            return orig[0](self, table, df, *a, **kw)

    def swap(self, tmp_table, table):
        with tracer.span(f"swap.{table}", group=False):
            return orig[1](self, tmp_table, table)

    def apply_delta(*a, **kw):
        with tracer.span("pipeline.apply"):
            return orig[2](*a, **kw)

    def compile_query(*a, **kw):
        with tracer.span("query_ast.compile", group=False):
            return orig[3](*a, **kw)

    IndexCatalog.write, IndexCatalog.swap = write, swap
    pipeline.apply_delta, wand.compile_query = apply_delta, compile_query
    try:
        yield
    finally:
        (IndexCatalog.write, IndexCatalog.swap, pipeline.apply_delta,
         wand.compile_query) = orig


class SpannedEngine:
    """Stands in for the engine inside the ``/search`` handler: plan
    construction (``search``) and execution (``collect``) become spans
    under the client's request span."""

    def __init__(self, engine, tracer: Tracer):
        self.engine, self.tracer = engine, tracer
        self.request = None  # the client's open request span

    def search(self, query, **kw):
        with self.tracer.span("wand.plan", parent=self.request):
            df = self.engine.search(query, **kw)
        return _SpannedResult(df, self)


class _SpannedResult:
    def __init__(self, df, owner: SpannedEngine):
        self.df, self.owner = df, owner

    def collect(self):
        with self.owner.tracer.span("spark.exec", parent=self.owner.request):
            return self.df.collect()


class Server:
    """The ``jobs/serve.py`` handler on an ephemeral localhost port, over an
    uncached engine as ``serve()`` builds it."""

    def __init__(self, wl: "Workload", wh: Path):
        from http.server import ThreadingHTTPServer

        from jobs.serve import make_handler
        from search_engine_spark.plans.wand import PackedQueryEngine
        from search_engine_spark.sources.catalog import IndexCatalog

        self.engine = eng = PackedQueryEngine.from_catalog(
            IndexCatalog(wl.spark, wh))
        self.spanned = SpannedEngine(eng, wl.tracer) if wl.traced else None
        self.httpd = ThreadingHTTPServer(
            ("127.0.0.1", 0), make_handler(self.spanned or eng, eng.n_docs))
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       daemon=True)
        self.thread.start()
        # never route localhost through an environment proxy
        self.opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, query: str) -> tuple[int, dict | None]:
        url = (f"http://127.0.0.1:{self.port}/search?"
               + urllib.parse.urlencode({"q": query, "k": 10}))
        try:
            with self.opener.open(url, timeout=120) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, None

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


class Workload:
    """Shared steps and loops; subclasses implement ``measure``."""

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.tracer: Tracer = run.tracer
        self.traced = bool(run.args.trace)
        self.inp: inputs.Inputs = run.inputs
        self.work: Path = run.work
        self.http_ops: list[dict] = []
        self.batch_ops: list[dict] = []
        self.steps: dict[str, tuple[float, float, Span | None]] = {}

    @property
    def ops(self) -> list[dict]:
        return self.http_ops + self.batch_ops

    # -- steps ---------------------------------------------------------
    @contextmanager
    def step(self, name: str):
        """A timed step outside the loops (build, append, delete)."""
        t0 = time.perf_counter()
        with self.tracer.span(name) as sp:
            yield
        self.steps[name] = (t0, time.perf_counter(), sp)

    def step_s(self, name: str) -> float:
        t0, t1, _ = self.steps[name]
        return t1 - t0

    @contextmanager
    def untraced(self):
        was, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = was

    @contextmanager
    def setup_part(self, name: str):
        """Time an untraced set-up part into ``setup_s``."""
        t0 = time.perf_counter()
        with self.untraced():
            yield
        self.run.setup[name] = (self.run.setup.get(name, 0.0)
                                + time.perf_counter() - t0)

    def attach(self) -> None:
        """After the measured window: jobs, stages and tasks per span."""
        if self.traced:
            self.tracer.attach_spark(task_intervals_for=("spark.exec",))

    # -- the base index ------------------------------------------------
    def base(self, oracle) -> Path:
        """The base warehouse: built under spans in a traced run, else the
        checkout's cached one, which the first run to need it builds.
        ``oracle`` makes the base corpus's oracle, for the build check."""
        if self.traced:
            return self.build(self.work / "base", oracle())
        root = self.work.parent
        cached = root / f"base-{source_key()}"
        with self.setup_part("base_s"):
            if not cached.exists():
                for stale in root.glob("base-*"):
                    shutil.rmtree(stale, ignore_errors=True)
                self.build(self.work / "base", oracle()).rename(cached)
                self.run.info.append(
                    f"base index built in {self.step_s('pipeline.build'):.1f} s "
                    f"and cached as {cached.name}")
        return cached

    def build(self, wh: Path, oracle) -> Path:
        from search_engine_spark.operators.pipeline import run_build

        pages = inputs.write_parquet(self.inp.base, self.work / "pages.parquet")
        df = self.spark.read.parquet(str(pages))
        with self.step("pipeline.build"):
            cat = run_build(self.spark, df, str(wh), force=True, **inputs.LAYOUT)
        self.run.layer["build.docs_per_s"] = (
            len(self.inp.base) / self.step_s("pipeline.build"))
        stats = cat.read("index_stats").collect()[0]
        self.run.check(int(stats["n_docs"]) == oracle.n_docs
                       and checks.scores_close(float(stats["avgdl"]), oracle.avgdl),
                       "build: index_stats differ from the oracle corpus")
        for t in CATALOG_TABLES:
            self.run.layer[f"catalog.{t}_mb"] = dir_bytes(wh / t) / MB
        return wh

    def index_ratio(self, wh: Path, rows: list[dict]) -> None:
        """On-disk bytes of what a query reads (every packed generation and
        its df patches, doclens, docmeta, index_stats, delete side tables)
        per byte of the pages' text."""
        dirs = {"postings_packed", "doclens", "docmeta", "index_stats",
                "tombstones", "df_patch_deletes"}
        man = wh / "postings_packed.manifest.json"
        gens = 1
        if man.exists():
            generations = json.loads(man.read_text())["generations"]
            gens = len(generations)
            for g in generations:
                dirs.add(g["dir"])
                dirs.update(g.get("patches") or [])
        served = sum(dir_bytes(wh / d) for d in dirs if (wh / d).exists())
        self.run.e2e["index_bytes_per_text_byte"] = (
            served / inputs.text_bytes(rows))
        self.run.layer["catalog.generations"] = gens

    # -- the closed HTTP loop ------------------------------------------
    def warm_http(self, server: Server) -> None:
        """The JVM's and the Python workers' first query: the mix's first."""
        with self.setup_part("warmup_s"):
            server.get(self.inp.interactive.queries[0])

    def http_loop(self, server: Server, seconds: float,
                  min_rounds: int) -> None:
        """Whole rounds until ``seconds`` have passed, at least
        ``min_rounds`` of them (one when traced)."""
        mix = self.inp.interactive
        period = len(QUERY_CLASSES)
        n_rounds = len(mix.queries) // period
        schedule = http_schedule(period, self.traced)
        if self.traced:
            min_rounds = 1
        tr = self.tracer
        t_end = time.perf_counter() + seconds
        r = 0
        while r < min_rounds or time.perf_counter() < t_end:
            for j, traced in schedule:
                i = (r % n_rounds) * period + j
                q, c = mix.queries[i], mix.classes[i]
                tr.enabled = traced
                t0 = time.perf_counter()
                with tr.span("serve.request", group=False) as sp:
                    if sp is not None:
                        server.spanned.request = sp
                    status, body = server.get(q)
                self.http_ops.append({"q": q, "c": c,
                                      "wall": time.perf_counter() - t0,
                                      "span": sp, "status": status,
                                      "body": body})
            r += 1
        tr.enabled = self.traced

    def check_http(self, oracle, by_url: bool) -> None:
        cache: dict[str, list] = {}
        for op in self.http_ops:
            q = op["q"]
            if q not in cache:
                cache[q] = checks.oracle_scores(oracle, q)
            ok = op["status"] == 200 and op["body"] is not None
            if ok:
                res = op["body"]["results"]
                if by_url:
                    ok = checks.rank_identical_by_url(
                        [(r["url"], r["score"]) for r in res], oracle, cache[q])
                else:
                    ok = checks.rank_identical(
                        [(r["doc_id"], r["score"]) for r in res], cache[q])
            self.run.check(ok, f"query {q!r}: status {op['status']}, "
                               "results differ from the oracle")
            op["body"] = None

    def http_metrics(self) -> None:
        """``op_geomean_ms`` and the class medians come from the untraced
        requests; the layer breakdown from the traced ones."""
        plain = [op for op in self.http_ops if op["span"] is None]
        walls = [op["wall"] for op in plain]
        self.run.e2e["op_geomean_ms"] = statistics.geometric_mean(walls) * 1000
        self.run.report_latency("query", walls)
        L = self.run.layer
        for c in QUERY_CLASSES:
            cw = [op["wall"] for op in plain if op["c"] == c]
            L[f"class.{c}.p50_ms"] = statistics.median(cw) * 1000 if cw else 0.0
        spans = self.tracer.spans
        kids, st = children(spans), self_times(spans)
        rows = []
        for op in self.http_ops:
            req = op["span"]
            if req is None:
                continue
            plan = [s for s in kids.get(req.sid, []) if s.name == "wand.plan"]
            exe = [s for s in kids.get(req.sid, []) if s.name == "spark.exec"]
            comp = [s for p in plan for s in kids.get(p.sid, [])
                    if s.name == "query_ast.compile"]
            rows.append({
                "c": op["c"],
                "compile": sum(s.dur for s in comp),
                "plan": sum(st[s.sid] for s in plan),
                "exec": sum(s.dur for s in exe),
                "handler": st[req.sid],
                "sched": sum(self.tracer.sched_wait(s) for s in exe),
                **{k: sum(s.spark.get(k, 0) for s in plan + exe)
                   for k in ("jobs", "stages", "tasks", "task_run_ms",
                             "records_read", "shuffle_bytes")},
            })
        if not rows:
            return

        def med(k):
            return statistics.median(r[k] for r in rows)

        def mean(k):
            return sum(r[k] for r in rows) / len(rows)

        L["query_ast.compile_ms"] = med("compile") * 1000
        L["wand.plan_ms"] = med("plan") * 1000
        L["spark.exec_ms"] = med("exec") * 1000
        L["serve.handler_ms"] = med("handler") * 1000
        L["spark.sched_wait_ms"] = med("sched") * 1000
        L["spark.jobs_per_query"] = mean("jobs")
        L["spark.stages_per_query"] = mean("stages")
        L["spark.tasks_per_query"] = mean("tasks")
        L["spark.task_run_ms_per_query"] = mean("task_run_ms")
        L["spark.records_read_per_query"] = mean("records_read")
        L["spark.shuffle_kb_per_query"] = mean("shuffle_bytes") / 1024
        for c in QUERY_CLASSES:
            cj = [r["jobs"] for r in rows if r["c"] == c]
            L[f"class.{c}.jobs"] = sum(cj) / len(cj) if cj else 0.0

    # -- repeated search_batch calls -----------------------------------
    def batch_loop(self, eng, seconds: float) -> None:
        queries = self.inp.batch.queries
        tr = self.tracer
        t_end = time.perf_counter() + seconds
        i = 0
        while i < MIN_CALLS or time.perf_counter() < t_end:
            tr.enabled = self.traced and batch_traced(i)
            t0 = time.perf_counter()
            with tr.span("batch.call", group=False) as sp:
                with tr.span("batch.plan"):
                    df = eng.search_batch(queries, k=10)
                with tr.span("batch.exec"):
                    rows = df.collect()
            self.batch_ops.append({"wall": time.perf_counter() - t0,
                                   "span": sp, "rows": rows})
            i += 1
        tr.enabled = self.traced

    def check_batch(self, oracle) -> None:
        """First call vs the oracle, every later call vs the first, and the
        batch rows vs the per-query ``search()`` top-k the HTTP loop got for
        the queries both mixes share (call before ``check_http``)."""
        queries = self.inp.batch.queries

        def by_query(rows):
            out: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r["query"], r["rank"])):
                out.setdefault(r["query"], []).append((r["doc_id"], r["score"]))
            return out

        first = by_query(self.batch_ops[0]["rows"])
        for q in queries:
            self.run.check(
                checks.rank_identical(first.get(q, []),
                                      checks.oracle_scores(oracle, q)),
                f"batch query {q!r} differs from the oracle")
        for op in self.batch_ops[1:]:
            self.run.check(by_query(op["rows"]) == first,
                           "a search_batch call differs from the first call")
        in_batch = set(queries)
        for op in self.http_ops:
            if op["q"] in in_batch and op["body"] is not None:
                got = [(r["doc_id"], r["score"]) for r in op["body"]["results"]]
                self.run.check(
                    checks.rank_identical(got, first.get(op["q"], [])),
                    f"search({op['q']!r}) differs from its search_batch rows")
        for op in self.batch_ops:
            op["rows"] = None

    def batch_metrics(self) -> None:
        n_q = len(self.inp.batch.queries)
        walls = [op["wall"] for op in self.batch_ops if op["span"] is None]
        self.run.e2e["work_per_s"] = n_q / statistics.median(walls)
        self.run.report_latency("batch_call", walls)
        self.run.info.append(
            f"batch_qps {self.run.e2e['work_per_s']:.2f} 1/s "
            f"(median of n={len(walls)} calls x {n_q} queries)")
        kids = children(self.tracer.spans)
        rows = []
        for op in self.batch_ops:
            if op["span"] is None:
                continue
            ks = kids.get(op["span"].sid, [])
            grouped = [s for s in ks if s.name in ("batch.plan", "batch.exec")]
            rows.append({
                "plan": sum(s.dur for s in ks if s.name == "batch.plan"),
                "exec": sum(s.dur for s in ks if s.name == "batch.exec"),
                "jobs": sum(s.spark.get("jobs", 0) for s in grouped),
                "run": sum(s.spark.get("task_run_ms", 0) for s in grouped) / 1000,
                "shuffle": sum(s.spark.get("shuffle_bytes", 0)
                               for s in grouped) / MB,
            })
        if not rows:
            return

        def mean(k):
            return sum(r[k] for r in rows) / len(rows)

        L = self.run.layer
        L["batch.plan_ms"] = mean("plan") * 1000
        L["batch.exec_s"] = mean("exec")
        L["batch.jobs"] = mean("jobs")
        L["batch.task_run_s"] = mean("run")
        L["batch.shuffle_mb"] = mean("shuffle")
        L["batch.busy_frac"] = (
            sum(r["run"] for r in rows)
            / (sum(r["plan"] + r["exec"] for r in rows) * self.run.cores))

    # -- per-layer numbers outside the loops ---------------------------
    def trace_accounting(self) -> None:
        """Overhead: median traced vs untraced operation wall, per loop.
        Unattributed: the share of the traced wall (steps and traced
        operations) that no layer span covers: the self time of the
        top-level spans (build, append and delete driver time, request
        handling) plus any wall outside them."""
        fracs = []
        for ops in (self.http_ops, self.batch_ops):
            traced = [op["wall"] for op in ops if op["span"] is not None]
            plain = [op["wall"] for op in ops if op["span"] is None]
            if traced and plain:
                fracs.append(statistics.median(traced)
                             / statistics.median(plain) - 1)
        if fracs:
            self.run.layer["trace.overhead_frac"] = statistics.mean(fracs)
        st = self_times(self.tracer.spans)
        tops = [(t1 - t0, sp) for t0, t1, sp in self.steps.values()
                if sp is not None]
        tops += [(op["wall"], op["span"]) for op in self.ops
                 if op["span"] is not None]
        wall = sum(w for w, _ in tops)
        if wall > 0:
            self.run.layer["trace.unattributed_frac"] = sum(
                w - sp.dur + st[sp.sid] for w, sp in tops) / wall

    def build_layers(self) -> None:
        """Per-phase time, task run time, shuffle and spill of the traced
        base build (catalog writes directly under ``pipeline.build``)."""
        L = self.run.layer
        step = self.steps.get("pipeline.build")
        if step is None or step[2] is None:
            return
        b = step[2]
        phase_spans: dict[str, list[Span]] = {}
        for s in children(self.tracer.spans).get(b.sid, []):
            phase = BUILD_PHASES.get(s.name.removeprefix("write."))
            if s.name.startswith("write.") and phase:
                phase_spans.setdefault(phase, []).append(s)
        for phase, ss in phase_spans.items():
            L[f"{phase}_s"] = sum(s.dur for s in ss)
            L[f"{phase}.task_run_s"] = sum(s.spark.get("task_run_ms", 0)
                                           for s in ss) / 1000
            L[f"{phase}.shuffle_mb"] = sum(s.spark.get("shuffle_bytes", 0)
                                           for s in ss) / MB
            L[f"{phase}.spill_mb"] = sum(s.spark.get("spill_bytes", 0)
                                         for s in ss) / MB
        L["build.driver_s"] = self_times(self.tracer.spans)[b.sid]
        p1_run = L.get("extract.p1.task_run_s", 0.0)
        parse = L.get("functions.parse_us_per_doc", 0.0)
        if p1_run > 0:
            # the share of p1 task time not spent parsing: Arrow batches,
            # pandas frames and the Python worker round trip
            L["extract.udf_overhead_frac"] = (
                1 - len(self.inp.base) * parse / 1e6 / p1_run)

    def engine_layers(self, wh: Path) -> None:
        """Driver-side parse and posting-decode costs (traced runs)."""
        if self.traced:
            with self.untraced():
                self._engine_layers(wh)

    def _engine_layers(self, wh: Path) -> None:
        from pyspark.sql import functions as F

        from search_engine_spark.native import get_parse_doc
        from search_engine_spark.operators import codec
        from search_engine_spark.plans.query_ast import (
            And, Not, Or, OrSyn, Phrase, Word, compile_query,
        )

        # the extraction UDF's own per-document parser: the C fast path
        # when it is built, else the reference-parity Python one
        parse = get_parse_doc()
        if parse is None:
            from search_engine_spark.functions.htmlparse import parse_html
            from search_engine_spark.functions.tokenize import doc_terms

            def parse(html):
                return doc_terms(parse_html(html))
        sample = [bytes(r["html"]) for r in self.inp.base[:200]]
        t0 = time.perf_counter()
        for html in sample:
            parse(html)
        self.run.layer["functions.parse_us_per_doc"] = (
            (time.perf_counter() - t0) / len(sample) * 1e6)

        stems: set[str] = set()

        def walk(e):
            if isinstance(e, Word):
                stems.add(e.stem)
            elif isinstance(e, Phrase):
                stems.update(e.effective_stems)
            elif isinstance(e, (And, Or)):
                walk(e.left)
                walk(e.right)
            elif isinstance(e, Not):
                walk(e.child)
            elif isinstance(e, OrSyn):
                walk(e.original)

        for q in self.inp.interactive.queries:
            walk(compile_query(q))
        keys = sorted(stems | {"@" + s for s in stems})
        rows = (self.spark.read.parquet(str(wh / "postings_packed"))
                .filter(F.col("term").isin(keys))
                .select("doc_ids", "tfs").collect())
        bufs = [(bytes(r["doc_ids"]), bytes(r["tfs"])) for r in rows]
        t0 = time.perf_counter()
        n = 0
        for ids, tfs in bufs:
            n += len(codec.decode_docids(ids))
            codec.decode_tfs(tfs)
        if n:
            self.run.layer["codec.decode_ns_per_posting"] = (
                (time.perf_counter() - t0) / n * 1e9)


class Query(Workload):
    @staticmethod
    def oracle_rows(inp: inputs.Inputs) -> list[dict]:
        return inp.base

    def measure(self, seconds: float) -> None:
        oracle = self.run.oracle
        wh = self.base(lambda: oracle)
        with self.setup_part("ready_s"):
            server = Server(self, wh)
        try:
            self.warm_http(server)
            self.http_loop(server, HTTP_SHARE * seconds, MIN_ROUNDS["query"])
        finally:
            server.close()
        # cache only after the HTTP phase: Spark matches cached data by
        # plan, so the uncached engine's scans would read it too
        eng = server.engine
        with self.setup_part("ready_s"):
            eng.packed = eng.packed.cache()
            eng.packed.count()
            eng.docmeta = eng.docmeta.cache()
            eng.docmeta.count()
        try:
            # no warm-up: work_per_s is the median call, not the first
            self.batch_loop(eng, (1 - HTTP_SHARE) * seconds)
        finally:
            eng.packed.unpersist()
            eng.docmeta.unpersist()
        self.attach()
        self.check_batch(oracle)
        self.check_http(oracle, by_url=False)
        self.http_metrics()
        self.batch_metrics()
        self.index_ratio(wh, self.inp.base)
        self.engine_layers(wh)


class Refresh(Workload):
    @staticmethod
    def oracle_rows(inp: inputs.Inputs) -> list[dict]:
        return inputs.survivors(inp)

    def measure(self, seconds: float) -> None:
        from search_engine_spark.operators.pipeline import run_append, run_delete
        from search_engine_spark.oracle.bm25_oracle import OracleIndex

        base = self.base(lambda: OracleIndex(self.inp.base))
        alive = inputs.survivors(self.inp)
        oracle = self.run.oracle
        rwh = self.work / "refresh"
        with self.setup_part("base_s"):
            shutil.copytree(base, rwh)
            delta = inputs.write_parquet(self.inp.delta,
                                         self.work / "delta.parquet")
            urls = self.spark.createDataFrame(
                [(u,) for u in self.inp.delete_urls], "url string")

        # no warm-up: the append runs in a fresh JVM, as an append job does
        t_start = time.perf_counter()
        with self.step("pipeline.append"):
            run_append(self.spark, self.spark.read.parquet(str(delta)),
                       str(rwh), label="delta1", compaction="tiered")
        with self.step("pipeline.delete"):
            run_delete(self.spark, urls, str(rwh), label="del1")
        append_s = self.step_s("pipeline.append")
        delete_s = self.step_s("pipeline.delete")
        n_add, n_del = len(self.inp.delta), len(self.inp.delete_urls)
        self.run.e2e["work_per_s"] = math.sqrt(n_add / append_s
                                               * n_del / delete_s)
        self.run.info.append(f"append_docs_per_s {n_add / append_s:.2f} 1/s "
                             f"(n=1 append of {n_add} pages)")
        self.run.info.append(f"delete_s {delete_s:.3f} s "
                             f"(n=1 delete of {n_del} urls)")

        with self.setup_part("ready_s"):
            server = Server(self, rwh)
        try:
            self.http_loop(server, seconds - (time.perf_counter() - t_start),
                           MIN_ROUNDS["refresh"])
            self.attach()
            self.check_http(oracle, by_url=True)
        finally:
            server.close()
        self.http_metrics()
        self.index_ratio(rwh, alive)
        self.engine_layers(rwh)
        self.pipeline_layers(append_s, delete_s)

    def pipeline_layers(self, append_s: float, delete_s: float) -> None:
        L = self.run.layer
        L["pipeline.append_s"] = append_s
        L["pipeline.delete_s"] = delete_s
        L["catalog.swaps"] = len(self.tracer.named("swap."))
        ap = self.steps["pipeline.append"][2]
        if ap is None:
            return
        for s in children(self.tracer.spans).get(ap.sid, []):
            for key, table in (("a1", "docs_raw_delta1"),
                               ("a2a", "docs_sorted_delta1"),
                               ("a2b", "docs_delta1")):
                if s.name == f"write.{table}":
                    L[f"pipeline.{key}_s"] = s.dur
            if s.name == "pipeline.apply":
                L["pipeline.apply_s"] = s.dur


WORKLOADS = {"query": Query, "refresh": Refresh}
