"""Pipeline + checkpoint/resume + cross-document join tests
(SURVEY.md §2 J2-J4, M6 exact resume; north_rule lineage)."""

import pathlib

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from ferenda_spark import checkpoint, ns, pipeline
from ferenda_spark.fixtures.webpages import commondata_df, web_pages_df
from ferenda_spark.operators import canonicalize
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.sparql import sparql_query
from ferenda_spark.operators.triples import all_triples

N = 30


@pytest.fixture(scope="module")
def triples(spark):
    df = all_triples(extract(web_pages_df(spark, N)),
                     commondata_df(spark)).cache()
    df.count()
    yield df
    df.unpersist()


def test_run_and_resume(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    entries = f"{out}/entries"
    pages = web_pages_df(spark, 20)
    res1 = pipeline.run(spark, pages, commondata_df(spark), out,
                        entries_path=entries)
    assert res1.n_extracted == 20
    assert res1.n_triples > 100

    # second run, same input: everything checkpointed -> nothing pending
    todo = checkpoint.pending(pages, checkpoint.read_entries(spark, entries))
    assert todo.count() == 0

    # a NO-OP resume must not touch the committed tables (regression:
    # an empty batch used to overwrite triples/ with nothing)
    res2 = pipeline.run(spark, pages, commondata_df(spark), out,
                        entries_path=entries)
    assert res2.n_extracted == 0 and res2.batch is None
    assert res2.n_triples_total == res1.n_triples

    # a changed page (different bytes for same url) IS pending again,
    # and an incremental run commits it as a NEW batch while keeping
    # every earlier batch's triples
    changed = pages.limit(1).withColumn(
        "html", F.to_binary(F.lit("<html><body><p>new</p></body></html>"),
                            F.lit("utf-8")))
    assert checkpoint.pending(
        changed, checkpoint.read_entries(spark, entries)).count() == 1
    res3 = pipeline.run(spark, changed, commondata_df(spark), out,
                        entries_path=entries)
    assert res3.n_extracted == 1 and res3.batch is not None
    assert res3.n_triples_total == res1.n_triples + res3.n_triples

    # idempotent retry: re-running the SAME batch (same pending set,
    # e.g. after a crash before the entries append) replaces its own
    # partitions instead of duplicating them
    res4 = pipeline.run(spark, changed, commondata_df(spark), out,
                        entries_path=None)  # no checkpoint -> all pending
    assert res4.batch == res3.batch
    assert res4.n_triples_total == res3.n_triples_total

    # SUPERSEDE: the raw table is an append log (both versions of the
    # re-crawled url exist), but the current view keeps exactly one
    # version per url — the re-crawl
    t = spark.read.parquet(f"{out}/triples")
    changed_url = changed.select("url").first().url
    assert t.where(F.col("url") == changed_url) \
            .select("batch").distinct().count() == 2
    cur = pipeline.current_triples(t)
    per_url = (cur.groupBy("url")
               .agg(F.countDistinct("batch").alias("nb"))
               .where("nb > 1").count())
    assert per_url == 0
    assert cur.where(F.col("url") == changed_url) \
              .select("batch").distinct().first().batch == res3.batch

    # dependencies current view: no row may originate from a superseded
    # version of its from-document
    deps_all = spark.read.parquet(f"{out}/dependencies")
    cur_deps = pipeline.current_dependencies(deps_all, t)
    stale_from = (deps_all.join(
        cur.select(F.col("url").alias("from_url"),
                   "commit_ts").distinct(),
        ["from_url"], "inner")
        .where(F.col("from_commit_ts") != F.col("commit_ts")))
    # stale rows exist in the log ...
    assert deps_all.count() >= cur_deps.count()
    del stale_from


def test_incremental_deps_scan_only_new_batch(spark, tmp_path_factory):
    """The second commit's dependency job must scan the triple log with
    a batch partition filter on its new side (VERDICT r01 #4) and
    broadcast the brand-new-docs side, and it must equal the full
    recompute on the current graph."""
    from ferenda_spark.plans import audit

    out = str(tmp_path_factory.mktemp("incdep"))
    entries = f"{out}/entries"
    pipeline.run(spark, web_pages_df(spark, 14), commondata_df(spark), out,
                 entries_path=entries)
    res2 = pipeline.run(spark, web_pages_df(spark, 20),
                        commondata_df(spark), out, entries_path=entries)
    assert res2.n_extracted == 6  # only the new pages

    t = spark.read.parquet(f"{out}/triples")
    new = t.where(F.col("batch") == res2.batch)
    prior = pipeline.current_triples(t.where(F.col("batch") != res2.batch))
    frame = canonicalize.incremental_dependency_join(new, prior)
    assert audit.has_partition_filter(new, "batch")
    assert audit.has_broadcast_hash_join(frame)

    # incremental log == full recompute over the current graph
    cur_deps = pipeline.current_dependencies(
        spark.read.parquet(f"{out}/dependencies"), t)
    full = canonicalize.dependency_join(pipeline.current_triples(t))
    got = {(r.from_url, r.to_url) for r in cur_deps.collect()}
    want = {(r.from_url, r.to_url) for r in full.collect()}
    assert got == want


def test_triples_partition_layout(spark, tmp_path_factory):
    """A batch lands as at most one file per write task directly under
    ``batch=<id>/``, and a ``pred = <iri>`` scan pushes its filter into
    parquet."""
    import pyarrow.parquet as pq

    from ferenda_spark.ns import RDF_TYPE
    from ferenda_spark.plans import audit

    out = str(tmp_path_factory.mktemp("layout"))
    res = pipeline.run(spark, web_pages_df(spark, 10), commondata_df(spark),
                       out)
    files = sorted(pathlib.Path(out, "triples").rglob("*.parquet"))
    assert files
    # no nested partition directories below the batch
    assert {f.parent for f in files} == {
        pathlib.Path(out, "triples", f"batch={res.batch}")}
    # a task names its files part-<task>-...: one file per task
    assert len(files) == len({f.name.split("-")[1] for f in files})

    t = spark.read.parquet(f"{out}/triples")
    assert {"pred_bucket", "crawl_date"} <= set(t.columns)
    assert sum(pq.read_metadata(f).num_rows for f in files) == res.n_triples
    assert audit.has_pushed_filter(t.where(F.col("pred") == RDF_TYPE),
                                   f"EqualTo(pred,{RDF_TYPE})")


def _corrupt_one_file(table_dir):
    part = sorted(pathlib.Path(table_dir).rglob("*.parquet"))[0]
    part.write_bytes(b"not a parquet file")
    # drop the checksum so the read fails in parquet, not in the crc check
    part.with_name(f".{part.name}.crc").unlink()


def test_unreadable_tables_raise(spark, tmp_path_factory):
    """A table that is missing, or that a crashed first write left with
    only ``_temporary/``, reads as empty; one that holds a file it
    cannot read raises instead of passing as empty — a corrupt
    ``metrics`` must not report ``n_triples_total = 0``, and a corrupt
    ``entries`` must not re-process the whole corpus."""
    out = str(tmp_path_factory.mktemp("corrupt"))
    entries = f"{out}/entries"
    assert pipeline._metrics_total(spark, out) == 0
    assert checkpoint.read_entries(spark, entries) is None
    pathlib.Path(entries, "_temporary", "0").mkdir(parents=True)
    pathlib.Path(out, "metrics", "_temporary", "0").mkdir(parents=True)
    assert pipeline._metrics_total(spark, out) == 0
    assert checkpoint.read_entries(spark, entries) is None

    pipeline.run(spark, web_pages_df(spark, 4), commondata_df(spark), out,
                 entries_path=entries)
    _corrupt_one_file(f"{out}/metrics")
    with pytest.raises(Py4JJavaError):
        pipeline._metrics_total(spark, out)
    _corrupt_one_file(entries)
    with pytest.raises(Py4JJavaError):
        checkpoint.read_entries(spark, entries).collect()


def test_dependency_join(triples):
    deps = canonicalize.dependency_join(triples)
    rows = {(r.from_url, r.to_url) for r in deps.collect()}
    # every dep's target is a real document of the corpus
    all_urls = {r.url for r in triples.select("url").distinct().collect()}
    assert rows, "expected at least one intra-corpus reference"
    for frm, to in rows:
        assert frm in all_urls and to in all_urls and frm != to


def test_skeleton_entities(triples):
    stubs = canonicalize.skeleton_entities(triples)
    stub_uris = {r.subj for r in stubs.collect()}
    # cited-but-absent RFCs and external URLs become stubs
    assert any("example.org" in u for u in stub_uris)
    described = {r.subj for r in triples.select("subj").distinct().collect()}
    assert not (stub_uris & described)


def test_annotation_closure(triples):
    """J3 (annotations.rq): the isPartOf* closure under each document
    plus inbound references, through the SPARQL compiler.  Documents
    are the fragment-free closure roots: the fixture types rfc/w3c
    documents rfc:RFC / w3c:Recommendation, not foaf:Document."""
    rows = sparql_query(triples, f"""
        SELECT ?doc ?part ?ref WHERE {{
          ?part <{ns.DCT_ISPARTOF}>* ?doc .
          OPTIONAL {{ ?ref <{ns.DCT_REFERENCES}> ?part }}
          FILTER(!CONTAINS(?doc, "#")) }}""").collect()
    # S1.1 sections must appear in their *document's* closure (depth 2)
    deep = [r for r in rows if r.part.endswith("#S1.1")]
    assert deep and all(r.doc == r.part.split("#")[0] for r in deep)
    # inbound refs: some section is referenced by another doc's section
    assert any(r.ref for r in rows)


def test_lookup_labels_fuzzy(spark):
    """Misspelled labels resolve through the levenshtein residual pass
    (documentrepository.py:472-485 cutoff-0.8 semantics)."""
    common = commondata_df(spark)
    facts = spark.createDataFrame(
        [("Network Working Group",),        # exact
         ("Network Wrking Group",),         # 1 edit -> fuzzy hit
         ("Netwrk Working Grup",),          # 2 edits -> still >= 0.8
         ("Completely Different Thing",)],  # no match
        "label string")
    out = canonicalize.lookup_labels_fuzzy(facts, common)
    got = {r.label: (r.ent_uri, r.match_kind) for r in out.collect()}
    nwg = "http://localhost:8000/ext/network-working-group"
    assert got["Network Working Group"] == (nwg, "exact")
    assert got["Network Wrking Group"] == (nwg, "fuzzy")
    assert got["Netwrk Working Grup"] == (nwg, "fuzzy")
    assert got["Completely Different Thing"] == (None, None)


def test_lookup_labels_and_salted_join(spark):
    common = commondata_df(spark)
    facts = spark.createDataFrame(
        [("Network Working Group",), ("Unknown Org",)], "label string")
    out = canonicalize.lookup_labels(facts, common)
    got = {r.label: r.ent_uri for r in out.collect()}
    assert got["Network Working Group"] is not None
    assert got["Unknown Org"] is None

    dim = common.select(F.col("label"), F.col("uri"))
    salted = canonicalize.salted_join(facts, dim, "label", salt=4)
    got2 = {r.label: r.uri for r in salted.collect()}
    assert got2 == {r.label: r.ent_uri for r in out.collect()}
