"""Turns one run's measurements into named metrics.

End-to-end metrics come from the untraced stopwatch and /proc readings;
per-layer metrics come from the spans of a traced run, the event log's
Spark counters attributed to them, and the files each table landed.
"""

from __future__ import annotations

import os
import statistics

from kgbench import layout
from kgbench.eventlog import COUNTERS
from kgbench.kernel import PHASES
from kgbench.tracing import median, self_times, tail_percentile

# (name, unit): the bounded end-to-end metrics, in BENCHMARK.json.
# Times are process-tree CPU seconds: on a shared host the CPU time of
# a run moves far less than its wall time (see README.md).
END_TO_END = [
    ("setup_s", "s"), ("cpu_s_per_1k_docs", "s"),
    ("stored_bytes_per_triple", "bytes"),
    ("first_answer_cpu_s", "s"), ("query_cpu_s", "s"),
]
# wall-clock end-to-end metrics: printed by every run, bounded by none
WALL = [
    ("setup_wall_s", "s"), ("batch_wall_s", "s"), ("docs_per_s", "1/s"),
    ("triples_per_s", "1/s"), ("first_answer_s", "s"),
    ("query_median_s", "s"), ("queries_per_min", "1/min"),
    ("peak_rss_mb", "MB"),
]

KERNEL_PHASES = tuple(PHASES)

PER_LAYER = (
    WALL
    + [("checkpoint.read_entries_s", "s"), ("checkpoint.pending_scan_s", "s"),
     ("checkpoint.pending_ratio", "ratio"),
     ("checkpoint.append_entries_s", "s"),
     ("checkpoint.noop_resume_s", "s"),
     ("extract.wall_s", "s"), ("extract.cpu_s", "s"),
     ("extract.rows", "count"), ("extract.quarantined", "count"),
     ("extract.bytes_written", "bytes")]
    + [(f"kernel.{p}_s", "s/1k-docs") for p in KERNEL_PHASES]
    + [("triples.wall_s", "s"), ("triples.cpu_s", "s"),
       ("triples.rows", "count"), ("triples.files_written", "count"),
       ("triples.partition_dirs", "count"),
       ("triples.bytes_written", "bytes"),
       ("log.open_s", "s"), ("log.files", "count"),
       ("log.listing_jobs", "count"), ("commit.metrics_s", "s"),
       ("relate.wall_s", "s"), ("relate.cpu_s", "s"),
       ("relate.rows", "count"), ("relate.input_bytes", "bytes"),
       ("query.open_s", "s"),
       ("sparql.compile_s", "s"), ("sparql.exec_s", "s"),
       ("sparql.rows_out", "count"), ("sparql.input_bytes", "bytes"),
       ("sparql.annotations_s", "s"), ("sparql.select_s", "s"),
       ("api.faceted_s", "s"), ("api.stats_s", "s"),
       ("api.fulltext_s", "s"),
       ("pipeline.traced_batch_wall_s", "s"),
       ("pipeline.untraced_remainder_s", "s"),
       ("trace.bookkeeping_s", "s")]
    + [(f"spark.{c}", "s" if c.endswith("_s") else
        ("bytes" if c.endswith("_bytes") else "count")) for c in COUNTERS]
)


def pages(run) -> list:
    """Costs of the session's result-page requests after the first (the
    first is part of the first answer and pays the query path's warm-up).
    Result pages are the only kind an untraced session sends, so traced
    and untraced runs compare like with like."""
    return [a.cost for a in run.session.answers[1:]
            if a.request.kind == "faceted"]


def end_to_end(run, batch) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples) for END_TO_END and WALL."""
    res, first = batch.result, run.session.first_answer
    wall = batch.cost.wall_s
    lat = [c.wall_s for c in pages(run)]
    vals = {
        "setup_s": (run.setup.cpu_s, 1),
        "cpu_s_per_1k_docs": (batch.cost.cpu_s * 1000 / res.n_extracted, 1),
        "stored_bytes_per_triple": (batch.landed_bytes / res.n_triples, 1),
        "first_answer_cpu_s": (first.cpu_s, 1),
        "query_cpu_s": (median([c.cpu_s for c in pages(run)]), len(lat)),
        "setup_wall_s": (run.setup.wall_s, 1),
        "batch_wall_s": (wall, 1),
        "docs_per_s": (res.n_extracted / wall, 1),
        "triples_per_s": (res.n_triples / wall, 1),
        "first_answer_s": (first.wall_s, 1),
        "query_median_s": (median(lat), len(lat)),
        "queries_per_min": (60 * len(lat) / sum(lat), len(lat)),
        "peak_rss_mb": (run.peak_rss / 2**20, 1),
    }
    return {name: (vals[name][0], unit, vals[name][1])
            for name, unit in END_TO_END + WALL}


def query_tail(run) -> tuple[str, float] | None:
    return tail_percentile([c.wall_s for c in pages(run)])


def _under(spans, root: int) -> list[int]:
    out = []
    for i, s in enumerate(spans):
        p = s.parent
        while p is not None and p != root:
            p = spans[p].parent
        if p == root:
            out.append(i)
    return out


def stage_breakdown(spans, root: int) -> tuple[dict[str, float], float]:
    """Self time per stage-span name below ``root`` and the root's own
    self time (the untraced remainder); together they sum to the root's
    duration."""
    st = self_times(spans)
    stages: dict[str, float] = {}
    for i in _under(spans, root):
        stages[spans[i].name] = stages.get(spans[i].name, 0.0) + st[i]
    return stages, st[root]


def per_layer(run, batch, kernel: dict[str, float], spark_by_span,
              spark_totals) -> dict[str, tuple[float, str]]:
    spans = run.tracer.spans
    root = batch.span
    res = batch.result
    inside = _under(spans, root)

    def named(name, idxs=inside):
        return [i for i in idxs if spans[i].name == name]

    def dur(name, idxs=inside):
        return sum(spans[i].duration for i in named(name, idxs))

    def cpu(name):
        return sum(spans[i].attrs.get("cpu_s", 0.0) for i in named(name))

    def spark(idxs, key, part="total"):
        return sum(spark_by_span[i][part][key] for i in idxs)

    session = [i for i, s in enumerate(spans)
               if s.trace.startswith("request:")]
    requests = [i for i in session if spans[i].name.startswith("request.")]

    def req_median(kind):
        xs = [spans[i].duration for i in requests
              if spans[i].name == f"request.{kind}"]
        return statistics.median(xs) if xs else 0.0

    batch_dir = f"batch={res.batch}"
    tri = os.path.join(run.out, "triples", batch_dir)
    ext = os.path.join(run.out, "extracted", batch_dir)
    vals = {name: v for name, (v, _, _) in end_to_end(run, batch).items()
            if name in dict(WALL)}
    vals |= {
        "checkpoint.read_entries_s": dur("checkpoint.read_entries"),
        "checkpoint.pending_scan_s": dur("checkpoint.pending_scan"),
        "checkpoint.pending_ratio": res.n_extracted / res.n_pages,
        "checkpoint.append_entries_s": dur("checkpoint.append_entries"),
        "checkpoint.noop_resume_s": run.noop,
        "extract.wall_s": dur("write.extracted"),
        "extract.cpu_s": cpu("write.extracted"),
        "extract.rows": res.n_extracted,
        "extract.quarantined": run.quarantined,
        "extract.bytes_written": layout.tree_bytes(ext),
        "triples.wall_s": dur("write.triples"),
        "triples.cpu_s": cpu("write.triples"),
        "triples.rows": res.n_triples,
        "triples.files_written": len(layout.data_files(tri)),
        "triples.partition_dirs": layout.partition_dirs(tri),
        "triples.bytes_written": layout.tree_bytes(tri),
        "log.open_s": dur("read.triples"),
        "log.files": len(layout.data_files(
            os.path.join(run.out, "triples"))),
        "log.listing_jobs": spark(named("read.triples"), "jobs", "self"),
        "commit.metrics_s": dur("write.metrics")
        + dur("commit.metrics_total"),
        "relate.wall_s": dur("write.dependencies"),
        "relate.cpu_s": cpu("write.dependencies"),
        "relate.rows": res.n_dependencies,
        "relate.input_bytes": spark(named("write.dependencies"),
                                    "input_bytes"),
        "query.open_s": sum(s.duration for s in spans
                            if s.name == "query.open"),
        "sparql.compile_s": dur("sparql.compile", session),
        "sparql.exec_s": dur("sparql.exec", session),
        "sparql.rows_out": sum(spans[i].attrs.get("rows_out", 0)
                               for i in named("sparql.exec", session)),
        "sparql.input_bytes": spark(
            [i for i in requests if spans[i].name in
             ("request.annotations", "request.select")], "input_bytes"),
        "sparql.annotations_s": req_median("annotations"),
        "sparql.select_s": req_median("select"),
        "api.faceted_s": req_median("faceted"),
        "api.stats_s": req_median("stats"),
        "api.fulltext_s": req_median("fulltext"),
        "pipeline.traced_batch_wall_s": spans[root].duration,
        "pipeline.untraced_remainder_s": stage_breakdown(spans, root)[1],
        "trace.bookkeeping_s": run.tracer.bookkeeping_s,
    }
    for p in KERNEL_PHASES:
        vals[f"kernel.{p}_s"] = kernel[p]
    for c in COUNTERS:
        vals[f"spark.{c}"] = spark_totals[c]
    return {name: (vals[name], unit) for name, unit in PER_LAYER}
