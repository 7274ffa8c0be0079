"""The query client's request mix and each request's DuckDB twin.

One client sends requests in a closed loop: the next request is sent
only after the previous answer arrived.  The first request is always
the API's first result page (``faceted`` page 0).  A round holds one
request of each kind in a seeded order with seeded parameters.  Every
answer is compared with a twin evaluated by DuckDB over the same parquet
files (``Twin``), with the SPARQL 1.1 semantics the compiler claims
(``isPartOf*`` as a true recursive closure).
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

from ferenda_spark import ns
from ferenda_spark.fixtures.webpages import PUBLISHERS, WORDS, entity_uri
from ferenda_spark.operators import api
from ferenda_spark.operators import sparql as sparql_mod

KINDS = ("annotations", "select", "faceted", "stats", "fulltext")
# publisher uri suffixes: the rfc publishers plus the w3c pages' own
PUBLISHER_SLUGS = [entity_uri(p).rsplit("/", 1)[1]
                   for p in PUBLISHERS[:3]] + ["w3c"]
DCT = ns.NS["dcterms"]
PAGE_SIZE = 10


@dataclass
class Request:
    kind: str
    params: dict


def faceted_request(seed: int, k: int) -> Request:
    """The ``k``-th result-page request; ``k == 0`` is the first page."""
    rng = random.Random(seed * 9_176_867 + k)
    return Request("faceted", {"publisher": rng.choice(PUBLISHER_SLUGS),
                               "page": rng.randrange(2) if k else 0})


def round_of_requests(seed: int, doc_uris: list[str]) -> list[Request]:
    """One request of each kind, in seeded order with seeded params."""
    rng = random.Random(seed * 7_368_787)
    out = []
    for kind in rng.sample(KINDS, len(KINDS)):
        if kind == "annotations":
            params = {"doc": rng.choice(doc_uris)}
        elif kind == "select":
            params = {"digit": str(rng.randrange(10))}
        elif kind == "faceted":
            params = {"publisher": rng.choice(PUBLISHER_SLUGS),
                      "page": rng.randrange(2)}
        elif kind == "fulltext":
            params = {"q": rng.choice(WORDS)}
        else:
            params = {}
        out.append(Request(kind, params))
    return out


def annotations_rq(doc: str) -> str:
    """The reference's annotations.rq shape, applied to one document."""
    return f"""PREFIX dct: <{DCT}>
CONSTRUCT {{ ?part dct:isReferencedBy ?s . ?s ?p ?o . }}
WHERE {{
  ?s ?p ?o .
  {{ ?s dct:isPartOf* <{doc}> . }}
  UNION
  {{ ?part dct:isPartOf* <{doc}> . ?s dct:references ?part . }}
}}"""


def select_rq(digit: str) -> str:
    return f"""PREFIX dct: <{DCT}>
SELECT ?doc ?id ?lang WHERE {{
  ?doc a <{ns.FOAF_DOCUMENT}> .
  ?doc dct:identifier ?id .
  OPTIONAL {{ ?doc dct:language ?lang }}
  FILTER (regex(?id, "{digit}$"))
}}"""


# ---------------------------------------------------------------------------
# answers, normalized to comparable Python values

def _items(resp: dict) -> tuple:
    return (resp["totalResults"], [
        (i["iri"], i["rdf_type"], i["dcterms_title"],
         i["dcterms_identifier"], i["dcterms_issued"],
         i["dcterms_publisher"]["iri"],
         (i.get("matches") or {}).get("text")) for i in resp["items"]])


def _stats(resp: dict) -> list:
    return [(s["dimension"], [(next(v for k, v in o.items() if k != "count"),
                               o["count"]) for o in s["observations"]])
            for s in resp["slices"]]


class Client:
    """Sends requests to the program's public query surfaces."""

    def __init__(self, tracer, current, texts):
        self.tracer, self.current, self.texts = tracer, current, texts

    def send(self, req: Request):
        p = req.params
        if req.kind in ("annotations", "select"):
            rq = (annotations_rq(p["doc"]) if req.kind == "annotations"
                  else select_rq(p["digit"]))
            df = sparql_mod.sparql_query(self.current, rq)
            with self.tracer.span("sparql.exec") as idx:
                rows = [tuple(r) for r in df.collect()]
            if idx is not None:
                self.tracer.spans[idx].attrs["rows_out"] = len(rows)
            return set(rows) if req.kind == "annotations" else Counter(rows)
        if req.kind == "faceted":
            return _items(api.faceted_query(
                self.current, {"dcterms_publisher": "*" + p["publisher"]},
                page=p["page"], page_size=PAGE_SIZE))
        if req.kind == "stats":
            return _stats(api.stats_dataset(self.current))
        return _items(api.fulltext_query(self.current, self.texts, p["q"],
                                         page_size=PAGE_SIZE))


class Twin:
    """DuckDB evaluation of the same requests over the committed parquet
    files: the current graph is the latest ``commit_ts`` per url."""

    def __init__(self, con, out_dir: str):
        self.con = con
        hive = "hive_partitioning = true, hive_types_autocast = false"
        con.execute(f"""CREATE OR REPLACE TABLE log AS SELECT * FROM
            read_parquet('{out_dir}/triples/**/*.parquet', {hive})""")
        con.execute("""CREATE OR REPLACE TABLE cur AS SELECT l.* FROM log l
            JOIN (SELECT url, max(commit_ts) AS m FROM log GROUP BY url) x
            ON l.url = x.url AND l.commit_ts = x.m""")
        con.execute(f"""CREATE OR REPLACE TABLE texts AS
            SELECT e.url, e.doc_uri AS iri, e.text FROM read_parquet(
              '{out_dir}/extracted/**/*.parquet', {hive}) e
            WHERE EXISTS (SELECT 1 FROM cur c
                          WHERE c.url = e.url AND c.batch = e.batch)""")
        preds = {"rdf_type": ns.RDF_TYPE, "dcterms_title": ns.DCT_TITLE,
                 "dcterms_identifier": ns.DCT_IDENTIFIER,
                 "dcterms_issued": ns.DCT_ISSUED,
                 "dcterms_publisher": ns.DCT_PUBLISHER}
        cols = ", ".join(f"max(CASE WHEN pred = '{p}' THEN obj END) AS {k}"
                         for k, p in preds.items())
        con.execute(f"""CREATE OR REPLACE TABLE docpivot AS SELECT subj, {cols}
            FROM cur WHERE NOT contains(subj, '#') GROUP BY subj""")

    def _rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def answer(self, req: Request):
        p = req.params
        if req.kind == "annotations":
            return set(self._rows(f"""
            WITH RECURSIVE parts(node) AS (
              SELECT ?::VARCHAR
              UNION
              SELECT c.subj FROM cur c JOIN parts ON c.obj = parts.node
              WHERE c.pred = '{ns.DCT_ISPARTOF}'),
            refs AS (SELECT subj AS s, obj AS part FROM cur
                     WHERE pred = '{ns.DCT_REFERENCES}'
                       AND obj IN (SELECT node FROM parts))
            SELECT subj, pred, obj FROM cur
              WHERE subj IN (SELECT node FROM parts)
                 OR subj IN (SELECT s FROM refs)
            UNION
            SELECT part, '{DCT}isReferencedBy', s FROM refs
              WHERE s IN (SELECT subj FROM cur)""", [p["doc"]]))
        if req.kind == "select":
            return Counter(self._rows(f"""
            SELECT d.subj, i.obj, l.obj FROM cur d
            JOIN cur i ON i.subj = d.subj AND i.pred = '{ns.DCT_IDENTIFIER}'
            LEFT JOIN cur l ON l.subj = d.subj
                           AND l.pred = '{DCT}language'
            WHERE d.pred = '{ns.RDF_TYPE}' AND d.obj = '{ns.FOAF_DOCUMENT}'
              AND regexp_matches(i.obj, ?)""", [p["digit"] + "$"]))
        if req.kind == "faceted":
            rows = self._rows("""SELECT subj, rdf_type, dcterms_title,
                dcterms_identifier, dcterms_issued, dcterms_publisher, NULL
                FROM docpivot WHERE ends_with(dcterms_publisher, ?)
                ORDER BY subj""", [p["publisher"]])
            lo = p["page"] * PAGE_SIZE
            return len(rows), rows[lo:lo + PAGE_SIZE]
        if req.kind == "stats":
            out = []
            for dim, pred, val in (
                    ("rdf_type", ns.RDF_TYPE, "obj"),
                    ("dcterms_publisher", ns.DCT_PUBLISHER, "obj"),
                    ("dcterms_issued", ns.DCT_ISSUED, "substring(obj, 1, 4)")):
                rows = self._rows(f"""SELECT v, count(*) FROM (
                    SELECT DISTINCT subj, {val} AS v FROM cur
                    WHERE pred = '{pred}' AND NOT contains(subj, '#'))
                    GROUP BY v ORDER BY v""")
                shape = api._qname if dim == "rdf_type" else (lambda v: v)
                out.append((dim, [(shape(v), n) for v, n in rows]))
            return out
        q = p["q"]
        rows = self._rows("""
            WITH j AS (SELECT p.*, coalesce(t.text, '') AS body,
                              coalesce(p.dcterms_title, '') AS title
                       FROM docpivot p LEFT JOIN texts t ON t.iri = p.subj),
            h AS (SELECT *, strpos(body, ?) AS tpos FROM j)
            SELECT subj, rdf_type, dcterms_title, dcterms_identifier,
                   dcterms_issued, dcterms_publisher,
                   CASE WHEN tpos > 0 THEN
                     '<em class="match">' || ? || '</em>' ||
                     substring(substring(body, tpos, 100), length(?) + 1, 100)
                   END
            FROM h WHERE tpos > 0 OR contains(title, ?)
            ORDER BY subj""", [q, q, q, q])
        return len(rows), rows[:PAGE_SIZE]
