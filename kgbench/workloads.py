"""The benchmark's workloads, run against the program's public entry
points (``pipeline.run``, ``operators.sparql.sparql_query``,
``operators.api.*``).

- ``cold_build``: the first ``pipeline.run`` over a fresh corpus with an
  empty ``entries`` checkpoint, and a no-op resume.
- ``incremental_commit``: set-up commits the corpus; the timed part
  commits the corpus plus a small crawl (re-crawled and brand-new
  urls), and resumes once more with nothing pending.

Both end with a closed-loop query session, so every end-to-end metric
exists on both: the read side is measured beside the write layout that
produced it.  The session requests ``MIN_PAGES`` result pages, and more
while another one fits before ``--seconds`` after the start of the
timed part; a traced run first sends one round of the whole query mix,
for the per-layer ``sparql.*``/``api.*`` spans.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from kgbench import corpus, layout, mix
from kgbench.proctree import PeakRss, tree_cpu_s

N_CORPUS = 40           # pages in the corpus (sizes: multiples of 10)
N_RECRAWL = 10          # re-crawled urls in the incremental crawl
N_NEW = 10              # brand-new urls in the incremental crawl
GATE_SAMPLE = 40        # urls checked against the golden fixtures
LANDINGS = 3            # set-up lands the corpus this often (median)
KERNEL_SAMPLE = 100     # pages in the traced single-process kernel pass
MIN_PAGES = 2           # result pages per session: the first answer + one


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")


@dataclass
class Cost:
    wall_s: float
    cpu_s: float            # process-tree CPU: driver, JVM, Python workers


def median_cost(costs: list[Cost]) -> Cost:
    return Cost(statistics.median(c.wall_s for c in costs),
                statistics.median(c.cpu_s for c in costs))


def sum_cost(*costs: Cost) -> Cost:
    return Cost(sum(c.wall_s for c in costs), sum(c.cpu_s for c in costs))


class Meter:
    """Wall and process-tree CPU time since construction."""

    def __init__(self):
        self.wall0, self.cpu0 = time.perf_counter(), tree_cpu_s()

    def cost(self) -> Cost:
        return Cost(time.perf_counter() - self.wall0,
                    tree_cpu_s() - self.cpu0)


@dataclass
class Batch:
    result: object
    cost: Cost
    landed_bytes: int
    span: int | None
    untouched: bool         # no file of the output tables changed


@dataclass
class Answer:
    request: mix.Request
    cost: Cost
    value: object = None
    error: str | None = None


@dataclass
class Session:
    first_answer: Cost | None = None
    answers: list = field(default_factory=list)


class Run:
    """State of one benchmark run: session, tracer, work dir, results."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 cores: int):
        from ferenda_spark.fixtures.webpages import commondata_df
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.cores = seed, seconds, cores
        self.commondata = commondata_df(spark)
        self.ops = Ops()
        self.session_start: Cost | None = None   # set by the caller
        self.setup: Cost | None = None
        self.landings: list[Cost] = []
        self.batches: dict[str, Batch] = {}
        self.noop = None
        self.quarantined = None
        self.session = None
        self.peak_rss = 0
        self.timed_lo = self.timed_hi = 0.0
        self.out = os.path.join(work, "graph")
        self.pages = os.path.join(work, "pages")
        self.crawl = os.path.join(work, "crawl")
        self.rows = corpus.corpus_rows(seed, N_CORPUS)
        self.recrawled: list[dict] = []
        self.new: list[dict] = []

    # -- set-up ------------------------------------------------------------
    def land_corpus(self) -> None:
        for _ in range(LANDINGS):
            m = Meter()
            corpus.land(self.rows, self.pages, self.cores)
            self.landings.append(m.cost())

    # -- timed steps -------------------------------------------------------
    def batch(self, label: str, paths: list[str]) -> Batch:
        from ferenda_spark import pipeline
        before = layout.files(self.out)
        self.tracer.trace_id = label
        m = Meter()
        with self.tracer.span("pipeline.run", cpu=True) as idx:
            res = pipeline.run(self.spark, self.spark.read.parquet(*paths),
                               self.commondata, self.out,
                               entries_path=os.path.join(self.out, "entries"))
        cost = m.cost()
        after = layout.files(self.out)
        landed = sum(meta[0] for p, meta in after.items()
                     if before.get(p) != meta)
        b = Batch(res, cost, landed, idx, after == before)
        self.batches[label] = b
        return b

    def noop_resume(self, paths: list[str]) -> None:
        """Run again over the same input: nothing is pending, so the
        run must return without writing a file."""
        b = self.batch("batch:noop", paths)
        self.noop = b.cost.wall_s
        self.ops.check("no-op resume writes no file",
                       b.result.batch is None and b.untouched,
                       f"batch={b.result.batch}")

    def query_session(self, deadline: float, full_round: bool) -> Session:
        """Open the log and get the first answer; with ``full_round``
        send one round of the whole mix; then request result pages until
        there are ``MIN_PAGES`` and no further one fits before
        ``deadline``."""
        from pyspark.sql import functions as F

        from ferenda_spark import pipeline
        s = Session()
        self.tracer.trace_id = "query:open"
        m = Meter()
        with self.tracer.span("query.open", cpu=True):
            cur = pipeline.current_triples(
                self.spark.read.parquet(os.path.join(self.out, "triples")))
            texts = (self.spark.read.parquet(
                os.path.join(self.out, "extracted"))
                .join(cur.select("url", "batch").distinct(),
                      ["url", "batch"], "left_semi")
                .select(F.col("doc_uri").alias("iri"), "text"))
        client = mix.Client(self.tracer, cur, texts)
        s.answers.append(self._send(client, mix.faceted_request(self.seed, 0),
                                    0))
        s.first_answer = m.cost()
        if full_round:
            docs = [r["url"] for r in self.rows
                    if "/rfc/" in r["url"] or "/w3c/" in r["url"]]
            for req in mix.round_of_requests(self.seed, docs):
                s.answers.append(self._send(client, req, len(s.answers)))
        k = 1
        while True:
            pages = [a.cost.wall_s for a in s.answers
                     if a.request.kind == "faceted"]
            if len(pages) >= MIN_PAGES and (
                    time.perf_counter() + statistics.fmean(pages) > deadline):
                break
            s.answers.append(self._send(
                client, mix.faceted_request(self.seed, k), len(s.answers)))
            k += 1
        self.session = s
        return s

    def _send(self, client, req, n) -> Answer:
        self.tracer.trace_id = f"request:{n}"
        m = Meter()
        try:
            with self.tracer.span(f"request.{req.kind}", cpu=True):
                value = client.send(req)
            return Answer(req, m.cost(), value)
        except Exception as e:  # a failed request is counted, not fatal
            return Answer(req, m.cost(), error=f"{type(e).__name__}: {e}")

    def timed(self, body) -> None:
        peak = PeakRss().start()
        self.timed_lo = time.time()
        try:
            body(time.perf_counter() + self.seconds)
        finally:
            self.timed_hi = time.time()
            self.peak_rss = peak.stop()

    # -- correctness gates (outside the timed part) ------------------------
    def gates(self, committed: list[Batch], sample: list[dict]) -> None:
        import duckdb
        tmp = os.path.join(self.work, "duckdb_tmp")
        con = duckdb.connect(config={"threads": self.cores,
                                     "temp_directory": tmp})
        try:
            twin = mix.Twin(con, self.out)
            for a in self.session.answers:
                name = f"request.{a.request.kind}{a.request.params}"
                if a.error is not None:
                    self.ops.check(name, False, a.error)
                else:
                    want = twin.answer(a.request)
                    self.ops.check(name, want == a.value,
                                   _diff(want, a.value))
            self._golden(con, sample)
            last = committed[-1].result
            self.quarantined = con.execute(
                "SELECT count(*) FROM read_parquet(?) WHERE NOT parse_ok",
                [os.path.join(self.out, "extracted", f"batch={last.batch}",
                              "*.parquet")]).fetchone()[0]
            n_rows = con.execute(
                "SELECT count(*) FROM read_parquet(?)",
                [os.path.join(self.out, "triples", f"batch={last.batch}",
                              "**", "*.parquet")]).fetchone()[0]
            self.ops.check("n_triples == rows in the batch's partitions",
                           last.n_triples == n_rows,
                           f"{last.n_triples} != {n_rows}")
            total = sum(b.result.n_triples for b in committed)
            self.ops.check("n_triples_total == sum over committed batches",
                           last.n_triples_total == total,
                           f"{last.n_triples_total} != {total}")
        finally:
            con.close()

    def _golden(self, con, sample: list[dict]) -> None:
        urls = [r["url"] for r in sample]
        got_text = dict(con.execute(
            "SELECT url, text FROM texts WHERE list_contains(?, url)",
            [urls]).fetchall())
        bad = [u for r in sample
               if got_text.get(u := r["url"]) != r["golden"]["text"]]
        self.ops.check("text byte-identical to golden_text",
                       not bad, f"{len(bad)} urls differ, e.g. {bad[:2]}")
        got = set(con.execute(
            """SELECT url, subj, pred, obj, obj_is_uri, obj_lang,
                      obj_datatype FROM cur WHERE list_contains(?, url)""",
            [urls]).fetchall())
        want = {(r["url"], t["subj"], t["pred"], t["obj"], t["obj_is_uri"],
                 t["obj_lang"], t["obj_datatype"])
                for r in sample for t in r["golden"]["triples"]}
        hit = len(got & want)
        p = hit / len(got) if got else 0.0
        r = hit / len(want) if want else 0.0
        self.ops.check("triple precision/recall >= 0.95 vs golden_triples",
                       p >= 0.95 and r >= 0.95, f"P={p:.3f} R={r:.3f}")


def _diff(want, got) -> str:
    if isinstance(want, (set, dict)):
        w, g = set(want), set(got)
        return f"missing {sorted(w - g)[:2]} extra {sorted(g - w)[:2]}"
    return f"want {str(want)[:200]} got {str(got)[:200]}"


def gate_sample(seed: int, rows: list[dict], k: int) -> list[dict]:
    rng = random.Random(seed ^ 0x5EED)
    return rng.sample(rows, min(k, len(rows)))


# ---------------------------------------------------------------------------
# workloads

def cold_build(run: Run, full_round: bool) -> list[Batch]:
    run.land_corpus()
    run.setup = sum_cost(run.session_start, median_cost(run.landings))

    def body(deadline):
        b = run.batch("batch:cold", [run.pages])
        run.ops.check("cold build commits a batch", b.result.batch is not None)
        run.noop_resume([run.pages])
        run.query_session(deadline, full_round)

    run.timed(body)
    committed = [run.batches["batch:cold"]]
    run.gates(committed, gate_sample(run.seed, run.rows, GATE_SAMPLE))
    return committed


def incremental_commit(run: Run, full_round: bool) -> list[Batch]:
    run.land_corpus()
    run.recrawled, run.new = corpus.crawl_rows(run.seed, N_CORPUS, N_RECRAWL,
                                               N_NEW)
    corpus.land(run.recrawled + run.new, run.crawl, 1)
    base = run.batch("batch:base", [run.pages])
    run.setup = sum_cost(run.session_start, median_cost(run.landings),
                         base.cost)

    def body(deadline):
        b = run.batch("batch:commit", [run.pages, run.crawl])
        res = b.result
        run.ops.check("pending set == re-crawled + new urls",
                      res.n_extracted == N_RECRAWL + N_NEW
                      and res.n_pages == N_CORPUS + N_RECRAWL + N_NEW,
                      f"{res.n_extracted} pending of {res.n_pages}")
        run.noop_resume([run.pages, run.crawl])
        run.query_session(deadline, full_round)

    run.timed(body)
    committed = [base, run.batches["batch:commit"]]
    recrawled = {r["url"] for r in run.recrawled}
    unchanged = [r for r in run.rows if r["url"] not in recrawled]
    run.gates(committed, gate_sample(run.seed, unchanged, GATE_SAMPLE // 2)
              + run.recrawled + run.new)
    return committed


WORKLOADS = {"cold_build": cold_build,
             "incremental_commit": incremental_commit}
