"""SPARQL BGP -> DataFrame compiler (operators/sparql.py): the
engine-native counterpart of the reference's triplestore query surface
(construct_annotations, documentrepository.py:2471-2488; template
res/sparql/annotations.rq)."""

import pytest

from ferenda_spark.operators.sparql import (Pattern, parse_sparql,
                                            sparql_query)

DCT = "http://purl.org/dc/terms/"
ANNOTATIONS_RQ = "/root/reference/ferenda/res/sparql/annotations.rq"


# ---------------------------------------------------------------------------
# parser

def test_parse_reference_annotations_rq():
    """The reference's own shipped template parses to the expected
    shape: CONSTRUCT, 2 template patterns, ?s ?p ?o + a UNION whose
    left arm is one isPartOf* path and right arm path + references."""
    with open(ANNOTATIONS_RQ) as fp:
        rq = fp.read() % {"uri": "http://ex.org/doc/1"}
    ast = parse_sparql(rq)
    assert ast.form == "construct"
    assert len(ast.template) == 2
    assert ast.template[0].p.value == DCT + "isReferencedBy"
    g = ast.where
    assert [(p.s.value, p.p.value, p.o.value) for p in g.patterns] == \
        [("s", "p", "o")]
    (left, right), = g.unions
    (seq,) = left.patterns[0].p.value.seqs      # one isPartOf* element
    (elt,) = seq.elts
    assert (elt.iri, elt.quant) == (DCT + "isPartOf", (0, None))
    assert left.patterns[0].o.value == "http://ex.org/doc/1"
    assert right.patterns[1].p.value == DCT + "references"


def test_parse_select_full_surface():
    ast = parse_sparql("""
        PREFIX dct: <http://purl.org/dc/terms/>
        SELECT DISTINCT ?doc ?title WHERE {
          ?doc a <http://xmlns.com/foaf/0.1/Document> .
          ?doc dct:title ?title .
          OPTIONAL { ?doc dct:publisher ?pub }
          FILTER (?title != "x" && regex(?title, "^A"))
        } ORDER BY DESC(?title) LIMIT 10""")
    assert ast.select_vars == ["doc", "title"] and ast.distinct
    assert ast.order_by == [("title", False)] and ast.limit == 10
    assert len(ast.where.optionals) == 1
    assert ast.where.patterns[0].p.value.endswith("#type")


def test_parse_pname_keeps_statement_dot():
    # 'dct:title .' must tokenize as pname + period, not swallow the dot
    ast = parse_sparql("""PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?t WHERE { <http://e/d> dct:title ?t . }""")
    assert ast.where.patterns[0].p.value == DCT + "title"


def test_parse_errors():
    with pytest.raises(ValueError, match="unknown prefix"):
        parse_sparql("SELECT ?x WHERE { ?x nope:p ?y }")
    with pytest.raises(ValueError, match="unsupported form"):
        parse_sparql("INSERT { ?s ?p ?o } WHERE { ?s ?p ?o }")


def test_parse_aggregates():
    ast = parse_sparql("""SELECT ?p (COUNT(*) AS ?n)
        (MAX(?o) AS ?top) WHERE { ?s ?p ?o } GROUP BY ?p""")
    assert ast.select_vars == ["p"] and ast.group_by == ["p"]
    assert [(a.func, a.var, a.alias) for a in ast.aggs] == \
        [("count", None, "n"), ("max", "o", "top")]
    ast2 = parse_sparql(
        "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s ?p ?o }")
    assert ast2.aggs[0].distinct and ast2.aggs[0].var == "s"


# ---------------------------------------------------------------------------
# execution over a small graph

@pytest.fixture()
def graph(spark):
    doc, part, sub = "http://e/d1", "http://e/d1#S1", "http://e/d1#S1.1"
    doc2 = "http://e/d2"
    rows = [
        (doc, "rdf:type", "foaf:Document"),
        (doc, DCT + "title", "Alpha"),
        (doc2, "rdf:type", "foaf:Document"),
        (doc2, DCT + "title", "Beta"),
        (part, DCT + "isPartOf", doc),
        (sub, DCT + "isPartOf", part),
        (part, DCT + "title", "Section 1"),
        (doc2, DCT + "references", sub),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_select_join_filter(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?t WHERE {
          ?d <rdf:type> "foaf:Document" .
          ?d dct:title ?t .
          FILTER (regex(?t, "^A"))
        }""").collect()
    assert [(r.d, r.t) for r in rows] == [("http://e/d1", "Alpha")]


def test_optional_yields_null(graph):
    rows = {r.d: r.r for r in sparql_query(
        graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?r WHERE {
          ?d <rdf:type> "foaf:Document" .
          OPTIONAL { ?d dct:references ?r }
        }""").collect()}
    assert rows["http://e/d2"] == "http://e/d1#S1.1"
    assert rows["http://e/d1"] is None


def test_filter_bound(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d WHERE {
          ?d <rdf:type> "foaf:Document" .
          OPTIONAL { ?d dct:references ?r }
          FILTER (bound(?r))
        }""").collect()
    assert [r.d for r in rows] == ["http://e/d2"]


def test_union_null_pads(graph):
    df = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?t ?r WHERE {
          { ?x dct:title ?t } UNION { ?x dct:references ?r }
        }""")
    rows = df.collect()
    assert sorted(r.t for r in rows if r.t) == ["Alpha", "Beta", "Section 1"]
    assert [r.r for r in rows if r.r] == ["http://e/d1#S1.1"]


def test_path_star_includes_zero_length(graph):
    # ?part isPartOf* <doc>: the doc itself + both nested parts
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?part WHERE { ?part dct:isPartOf* <http://e/d1> }""")
    assert sorted(r.part for r in rows.collect()) == [
        "http://e/d1", "http://e/d1#S1", "http://e/d1#S1.1"]


def test_path_plus_excludes_zero_length(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?part WHERE { ?part dct:isPartOf+ <http://e/d1> }""")
    assert sorted(r.part for r in rows.collect()) == [
        "http://e/d1#S1", "http://e/d1#S1.1"]


def test_construct_reference_annotations(graph):
    """annotations.rq VERBATIM (uri = d1) over the fixture graph must
    produce: every triple of d1/its parts, plus the inbound-reference
    decoration and every triple of the referencing doc."""
    with open(ANNOTATIONS_RQ) as fp:
        rq = fp.read() % {"uri": "http://e/d1"}
    got = {(r.subj, r.pred, r.obj)
           for r in sparql_query(graph, rq).collect()}
    doc, part, sub = "http://e/d1", "http://e/d1#S1", "http://e/d1#S1.1"
    doc2 = "http://e/d2"
    expected = {
        # ?s in isPartOf* closure of d1: all their triples
        (doc, "rdf:type", "foaf:Document"),
        (doc, DCT + "title", "Alpha"),
        (part, DCT + "isPartOf", doc),
        (sub, DCT + "isPartOf", part),
        (part, DCT + "title", "Section 1"),
        # d2 references d1#S1.1 -> decoration + all of d2's triples
        (sub, DCT + "isReferencedBy", doc2),
        (doc2, "rdf:type", "foaf:Document"),
        (doc2, DCT + "title", "Beta"),
        (doc2, DCT + "references", sub),
    }
    assert got == expected


def test_construct_drops_null_slots(graph):
    # OPTIONAL-bound template var unmatched -> no triple emitted
    got = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        CONSTRUCT { ?d dct:isReferencedBy ?r }
        WHERE {
          ?d <rdf:type> "foaf:Document" .
          OPTIONAL { ?r dct:references ?d }
        }""").collect()
    assert got == []  # nothing references a Document directly


def test_ask(graph):
    yes, = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        ASK { ?s dct:references ?o }""").collect()
    no, = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        ASK WHERE { ?s dct:creator ?o }""").collect()
    assert yes.answer is True and no.answer is False


def test_describe(graph):
    rows = {(r.subj, r.pred, r.obj) for r in
            sparql_query(graph, "DESCRIBE <http://e/d1#S1>").collect()}
    assert rows == {
        ("http://e/d1#S1", DCT + "isPartOf", "http://e/d1"),
        ("http://e/d1#S1", DCT + "title", "Section 1"),
        ("http://e/d1#S1.1", DCT + "isPartOf", "http://e/d1#S1"),
    }


def test_group_by_count(graph):
    rows = {r.p: r.n for r in sparql_query(
        graph, """SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
                  GROUP BY ?p""").collect()}
    assert rows["http://purl.org/dc/terms/isPartOf"] == 2
    assert rows["rdf:type"] == 2 and rows[DCT + "title"] == 3


def test_count_distinct_global(graph):
    row, = sparql_query(
        graph, "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s ?p ?o }"
    ).collect()
    assert row.n == 4  # d1, d2, part, sub


def test_broadcast_hint_for_selective_pattern(graph):
    # a non-seed pattern bound by 2 constants joins broadcast-hinted
    df = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?x WHERE {
          ?x dct:isPartOf <http://e/d1> .
          ?x dct:title "Section 1" .
        }""")
    assert [r.x for r in df.collect()] == ["http://e/d1#S1"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


# ---------------------------------------------------------------------------
# round-5 surface: every reference template parses; the rich ones execute

import glob

REF_RQ_GLOB = [
    "/root/reference/ferenda/res/sparql/*.rq",
    "/root/reference/ferenda/sources/*/res/sparql/*.rq",
    "/root/reference/ferenda/sources/*/*/res/sparql/*.rq",
    "/root/reference/lagen/nu/res/sparql/*.rq",
    "/root/reference/doc/examples/*.rq",
]
SUBST = {"uri": "http://e/doc/1", "context": "http://e/ctx",
         "tempuri": "http://e/tmp/1"}
RFC = "http://example.org/ontology/rfc/"
RPUBL = "http://rinfo.lagrummet.se/ns/2008/11/rinfo/publ#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _all_reference_templates():
    files = sorted({f for g in REF_RQ_GLOB for f in glob.glob(g)})
    assert len(files) >= 17, files   # the reference ships 17 templates
    return files


def test_parse_every_reference_template():
    """All 17 .rq templates the reference ships (core, tech, legal/se,
    general, lagen.nu, doc/examples) parse VERBATIM after the same
    %-substitution the reference applies (construct_annotations,
    documentrepository.py:2471-2488)."""
    for path in _all_reference_templates():
        with open(path) as fp:
            rq = fp.read() % SUBST
        ast = parse_sparql(rq)
        assert ast.form in ("select", "construct", "ask", "describe"), path
        assert ast.template or ast.select_vars or ast.where.patterns \
            or ast.where.unions, path


def _graph4(spark, rows):
    """(subj, pred, obj, obj_is_uri) graph for isURI-aware queries."""
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_uri boolean")


def test_execute_rfc_annotations_verbatim(spark):
    """The reference's rfc-annotations.rq (5-branch UNION, semicolon
    lists, references+ path, BIND, FILTERs with =, !isUri, IN, !=, ||,
    strstarts(str())) executes VERBATIM and produces exactly the
    annotation graph the template describes."""
    U, A, B = "http://e/rfc/10", "http://e/rfc/11", "http://e/rfc/12"
    R, R2, X = "http://e/rfc/13", "http://e/rfc/14", "http://other/thing"
    g = _graph4(spark, [
        (U, DCT + "title", "Ten", False),
        (U, RDF_TYPE, RFC + "RFC", True),
        (A, RFC + "obsoletes", U, True),
        (A, DCT + "title", "Eleven", False),
        (A, DCT + "references", X, True),
        (B, RFC + "updates", U, True),
        (B, DCT + "title", "Twelve", False),
        (R, DCT + "references", U, True),
        (R, DCT + "title", "Thirteen", False),
        (R, DCT + "references", X, True),
        (R2, DCT + "references", R, True),
        (R2, DCT + "title", "Fourteen", False),
    ])
    with open("/root/reference/ferenda/sources/tech/res/sparql/"
              "rfc-annotations.rq") as fp:
        rq = fp.read() % {"uri": U}
    got = {(r.subj, r.pred, r.obj) for r in sparql_query(g, rq).collect()}
    assert got == {
        # branch 1: U's literal metadata only (rdf:type obj is a URI)
        (U, DCT + "title", "Ten"),
        # branch 2: transitive referencers' metadata, minus unrelated
        # dcterms:references (R->X dropped, R2->R dropped: R !startswith U)
        (R, DCT + "title", "Thirteen"),
        (R, DCT + "references", U),
        (R2, DCT + "title", "Fourteen"),
        # branch 3: updater/obsoleter metadata minus their references
        (A, RFC + "obsoletes", U),
        (A, DCT + "title", "Eleven"),
        (B, RFC + "updates", U),
        (B, DCT + "title", "Twelve"),
        # template decorations from BIND + branches 4/5
        (U, DCT + "isReferencedBy", R),
        (U, DCT + "isReferencedBy", R2),
        (U, RFC + "isObsoletedBy", A),
        (U, RFC + "isUpdatedBy", B),
    }


def test_execute_sfs_changes_verbatim(spark):
    """sfs_changes.rq: predicate-object lists, variable predicate,
    OPTIONAL group with a ; list, FILTER(STRSTARTS && IN)."""
    uri = "http://e/sfs/1999:175"
    C1, C2, P1, P2 = ("http://e/sfs/2000:1", "http://e/sfs/2000:2",
                      "http://e/prop/1", "http://e/prop/2")
    L1, L2 = uri + "#P1", uri + "#P2"
    g = spark.createDataFrame([
        (C1, RPUBL + "ersatter", L1),
        (C1, DCT + "identifier", "SFS 2000:1"),
        (C1, RPUBL + "forarbete", P1),
        (P1, RDF_TYPE, RPUBL + "Proposition"),
        (P1, DCT + "identifier", "Prop. 1999/2000:1"),
        (P1, DCT + "title", "PropTitle"),
        (C2, RPUBL + "upphaver", L2),
        (C2, DCT + "identifier", "SFS 2000:2"),
        (C2, RPUBL + "forarbete", P2),
        (P2, RDF_TYPE, RPUBL + "Proposition"),
    ], "subj string, pred string, obj string")
    with open("/root/reference/ferenda/sources/legal/se/res/sparql/"
              "sfs_changes.rq") as fp:
        rq = fp.read() % {"uri": uri}
    rows = {tuple(r) for r in sparql_query(g, rq).collect()}
    assert rows == {
        (C1, RPUBL + "ersatter", "SFS 2000:1", L1, P1,
         "Prop. 1999/2000:1", "PropTitle"),
        (C2, RPUBL + "upphaver", "SFS 2000:2", L2, P2, None, None),
    }


def test_execute_prop_annotations_path_quantifier(spark):
    """prop-annotations.rq: the {,1} path quantifier and the two-
    variable STRSTARTS(STR(?a), STR(?b)) form."""
    U, P = "http://e/prop/1", "http://e/prop/1#S1"
    D, DS = "http://e/dok/2", "http://e/dok/2#S3"
    g = spark.createDataFrame([
        (P, DCT + "isPartOf", U),
        (DS, DCT + "isPartOf", D),
        (DS, DCT + "references", P),
        (D, DCT + "title", "Doc2"),
        (U, DCT + "title", "Prop1"),
    ], "subj string, pred string, obj string")
    with open("/root/reference/ferenda/sources/legal/se/res/sparql/"
              "prop-annotations.rq") as fp:
        rq = fp.read() % {"uri": U}
    got = {(r.subj, r.pred, r.obj) for r in sparql_query(g, rq).collect()}
    assert got == {
        (U, DCT + "isReferencedBy", P),      # P isPartOf U matches
        (P, DCT + "isPartOf", U),            # ?references is ANY pred
        (U, DCT + "title", "Prop1"),
        (P, DCT + "isReferencedBy", DS),
        (DS, DCT + "isPartOf", D),
        (DS, DCT + "references", P),
        (D, DCT + "title", "Doc2"),
    }


def test_execute_keyword_sfs_graph_block(spark):
    """keyword_sfs.rq: GRAPH wrapper (transparent single-graph store),
    nested braced group, ; list with an isPartOf* path."""
    KW, S, DOC = ("http://e/concept/Avtal", "http://e/sfs/1#S2",
                  "http://e/sfs/1")
    g = spark.createDataFrame([
        (S, DCT + "subject", KW),
        (S, DCT + "isPartOf", DOC),
        (S, DCT + "title", "Para 2"),
        (DOC, DCT + "title", "Lagen"),
    ], "subj string, pred string, obj string")
    with open("/root/reference/lagen/nu/res/sparql/keyword_sfs.rq") as fp:
        rq = fp.read() % {"uri": KW, "context": "http://e/ctx"}
    rows = {tuple(r) for r in sparql_query(g, rq).collect()}
    assert rows == {(S, S, "Para 2"), (S, DOC, "Lagen")}


def test_is_literal_and_is_uri(spark):
    g = _graph4(spark, [
        ("http://e/d", DCT + "title", "Alpha", False),
        ("http://e/d", DCT + "isPartOf", "http://e/root", True),
    ])
    lits = sparql_query(g, """SELECT ?o WHERE {
        ?s ?p ?o . FILTER(isLiteral(?o)) }""").collect()
    uris = sparql_query(g, """SELECT ?o WHERE {
        ?s ?p ?o . FILTER(isURI(?o)) }""").collect()
    assert [r.o for r in lits] == ["Alpha"]
    assert [r.o for r in uris] == ["http://e/root"]
    # subj-bound vars are URIs by RDF definition
    n = sparql_query(g, """SELECT (COUNT(*) AS ?n) WHERE {
        ?s ?p ?o . FILTER(isURI(?s)) }""").collect()[0].n
    assert n == 2


def test_is_uri_without_flag_column_raises(graph):
    with pytest.raises(ValueError, match="obj_is_uri"):
        sparql_query(graph, """SELECT ?o WHERE {
            ?s ?p ?o . FILTER(isURI(?o)) }""").collect()


def test_bind_expression_and_alias(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?u ?same WHERE {
          ?d dct:title ?t .
          BIND(ucase(?t) AS ?u)
          BIND(?d AS ?same)
          FILTER(strstarts(?t, "A"))
        }""").collect()
    assert [(r.d, r.u, r.same) for r in rows] == \
        [("http://e/d1", "ALPHA", "http://e/d1")]


def test_nary_union(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?v WHERE {
          { <http://e/d1> dct:title ?v }
          UNION { <http://e/d2> dct:title ?v }
          UNION { <http://e/d1#S1> dct:title ?v }
        }""").collect()
    assert sorted(r.v for r in rows) == ["Alpha", "Beta", "Section 1"]


def test_object_list_comma(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d WHERE { ?d dct:title "Alpha", "Beta" }""").collect()
    assert rows == []   # no subject carries both titles
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?t WHERE {
          { ?d dct:title ?t . ?d dct:title "Alpha" } }""").collect()
    assert [r.t for r in rows] == ["Alpha"]


def test_path_quantifier_bounds(graph):
    # {1,1}: exactly one hop
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?p WHERE { ?p dct:isPartOf{1,1} <http://e/d1> }""").collect()
    assert [r.p for r in rows] == ["http://e/d1#S1"]
    # {,2}: zero, one or two hops
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?p WHERE { ?p dct:isPartOf{,2} <http://e/d1> }""").collect()
    assert sorted(r.p for r in rows) == [
        "http://e/d1", "http://e/d1#S1", "http://e/d1#S1.1"]


def test_filter_in_and_iri_equality(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?s ?o WHERE {
          ?s ?p ?o .
          FILTER(?p IN (dct:references, dct:isPartOf) && ?o != <http://e/d1>)
        }""").collect()
    assert sorted((r.s, r.o) for r in rows) == [
        ("http://e/d1#S1.1", "http://e/d1#S1"),
        ("http://e/d2", "http://e/d1#S1.1")]


def test_offset_paging(graph):
    page = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?t WHERE { ?d dct:title ?t }
        ORDER BY ?t LIMIT 2 OFFSET 1""").collect()
    assert [r.t for r in page] == ["Beta", "Section 1"]


# ---------------------------------------------------------------------------
# EXISTS / NOT EXISTS / MINUS / VALUES / lang()

def test_filter_not_exists_and_exists(graph):
    base = """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d WHERE {
          ?d <rdf:type> "foaf:Document" .
          FILTER %s EXISTS { ?d dct:references ?r }
        }"""
    without = sparql_query(graph, base % "NOT").collect()
    with_ = sparql_query(graph, base % "").collect()
    assert [r.d for r in without] == ["http://e/d1"]
    assert [r.d for r in with_] == ["http://e/d2"]


def test_minus_shared_and_disjoint(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d WHERE {
          ?d <rdf:type> "foaf:Document" .
          MINUS { ?d dct:title "Beta" }
        }""").collect()
    assert [r.d for r in rows] == ["http://e/d1"]
    # spec: a MINUS sharing no variable with the outer group removes nothing
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d WHERE {
          ?d <rdf:type> "foaf:Document" .
          MINUS { ?x dct:title "Beta" }
        }""").collect()
    assert sorted(r.d for r in rows) == ["http://e/d1", "http://e/d2"]


def test_values_single_and_multi(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?t WHERE {
          ?d dct:title ?t .
          VALUES ?d { <http://e/d1> <http://e/d1#S1> }
        }""").collect()
    assert sorted((r.d, r.t) for r in rows) == [
        ("http://e/d1", "Alpha"), ("http://e/d1#S1", "Section 1")]
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?t WHERE {
          ?d dct:title ?t .
          VALUES (?d ?t) { (<http://e/d1> "Alpha") (<http://e/d2> "Nope") }
        }""").collect()
    assert [(r.d, r.t) for r in rows] == [("http://e/d1", "Alpha")]


def test_values_undef_rejected():
    with pytest.raises(ValueError, match="UNDEF"):
        parse_sparql("""SELECT ?x WHERE {
            ?x ?p ?o . VALUES ?x { UNDEF } }""")


def test_lang_and_langmatches(spark):
    g = spark.createDataFrame([
        ("http://e/d", DCT + "title", "Lagen", "sv"),
        ("http://e/d", DCT + "title", "The Act", "en-GB"),
        ("http://e/d", DCT + "identifier", "1999:175", None),
    ], "subj string, pred string, obj string, obj_lang string")
    sv = sparql_query(g, """SELECT ?o WHERE {
        ?s ?p ?o . FILTER(lang(?o) = "sv") }""").collect()
    assert [r.o for r in sv] == ["Lagen"]
    # RFC 4647 basic filtering: 'en' matches 'en-GB'
    en = sparql_query(g, """SELECT ?o WHERE {
        ?s ?p ?o . FILTER(langMatches(lang(?o), "en")) }""").collect()
    assert [r.o for r in en] == ["The Act"]
    tagged = sparql_query(g, """SELECT ?o WHERE {
        ?s ?p ?o . FILTER(langMatches(lang(?o), "*")) }""").collect()
    assert sorted(r.o for r in tagged) == ["Lagen", "The Act"]
    plain = sparql_query(g, """SELECT ?o WHERE {
        ?s ?p ?o . FILTER(lang(?o) = "") }""").collect()
    assert [r.o for r in plain] == ["1999:175"]


def test_lang_without_column_raises(graph):
    with pytest.raises(ValueError, match="obj_lang"):
        sparql_query(graph, """SELECT ?o WHERE {
            ?s ?p ?o . FILTER(lang(?o) = "sv") }""").collect()


def test_group_concat_sample_having(graph):
    rows = {r.s: r.os for r in sparql_query(
        graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?s (GROUP_CONCAT(?o; SEPARATOR="|") AS ?os)
        WHERE { ?s ?p ?o } GROUP BY ?s HAVING(?s != "x")""").collect()}
    assert rows["http://e/d1"] == "Alpha|foaf:Document"
    assert rows["http://e/d2"] == "Beta|foaf:Document|http://e/d1#S1.1"
    row, = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT (SAMPLE(?t) AS ?any) (COUNT(*) AS ?n)
        WHERE { ?s dct:title ?t }""").collect()
    assert row.n == 3 and row.any in ("Alpha", "Beta", "Section 1")
    # HAVING prunes groups by aggregate value
    rows = sparql_query(graph, """SELECT ?s (COUNT(*) AS ?n)
        WHERE { ?s ?p ?o } GROUP BY ?s HAVING(?n >= 3)""").collect()
    assert [(r.s, r.n) for r in rows] == [("http://e/d2", 3)]


# ---------------------------------------------------------------------------
# path expressions: sequence / inverse / alternation / ? quantifier

def test_path_sequence(graph):
    # d2 references S1.1, S1.1 isPartOf S1
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?x ?y WHERE {
          ?x dct:references/dct:isPartOf ?y }""").collect()
    assert [(r.x, r.y) for r in rows] == \
        [("http://e/d2", "http://e/d1#S1")]


def test_path_sequence_is_a_set(spark):
    # a -p0-> m1 -p1-> b and a -p0-> m2 -p1-> b: SPARQL 1.1 evaluates
    # a p0/p1 b as the join of two patterns over a fresh middle
    # variable, a bag with 2 solutions (one per middle node).  The
    # compiler's path edge sets are sets (module docstring), so 1 row.
    g = spark.createDataFrame(
        [("a", "p0", "m1"), ("a", "p0", "m2"),
         ("m1", "p1", "b"), ("m2", "p1", "b")],
        "subj string, pred string, obj string")
    rows = sparql_query(g, "SELECT ?x ?y WHERE { ?x <p0>/<p1> ?y }")
    assert [tuple(r) for r in rows.collect()] == [("a", "b")]


def test_path_sequence_with_star(graph):
    # references then any number of isPartOf hops
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?y WHERE {
          <http://e/d2> dct:references/dct:isPartOf* ?y }""").collect()
    assert sorted(r.y for r in rows) == [
        "http://e/d1", "http://e/d1#S1", "http://e/d1#S1.1"]


def test_path_inverse(graph):
    # ?x ^isPartOf ?y  ==  ?y isPartOf ?x
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?part WHERE { <http://e/d1> ^dct:isPartOf ?part }""").collect()
    assert [r.part for r in rows] == ["http://e/d1#S1"]


def test_path_alternation(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?s ?o WHERE {
          ?s (dct:references|dct:isPartOf) ?o }""").collect()
    assert sorted((r.s, r.o) for r in rows) == [
        ("http://e/d1#S1", "http://e/d1"),
        ("http://e/d1#S1.1", "http://e/d1#S1"),
        ("http://e/d2", "http://e/d1#S1.1")]


def test_path_question_quantifier(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?p WHERE { ?p dct:isPartOf? <http://e/d1> }""").collect()
    assert sorted(r.p for r in rows) == ["http://e/d1", "http://e/d1#S1"]


def test_path_grouped_quantified_alternation(graph):
    # ((references|isPartOf))+ walks both edge kinds transitively
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?y WHERE {
          <http://e/d2> (dct:references|dct:isPartOf)+ ?y }""").collect()
    assert sorted(r.y for r in rows) == [
        "http://e/d1", "http://e/d1#S1", "http://e/d1#S1.1"]


def test_path_inverse_sequence(graph):
    # children of d1 via inverse, then their titles
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?t WHERE { <http://e/d1> ^dct:isPartOf/dct:title ?t }
        """).collect()
    assert [r.t for r in rows] == ["Section 1"]


def test_negated_property_set(graph):
    # everything EXCEPT type/title edges = references + isPartOf
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?s ?o WHERE {
          ?s !(<rdf:type>|dct:title) ?o }""").collect()
    assert sorted((r.s, r.o) for r in rows) == [
        ("http://e/d1#S1", "http://e/d1"),
        ("http://e/d1#S1.1", "http://e/d1#S1"),
        ("http://e/d2", "http://e/d1#S1.1")]
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?o WHERE { <http://e/d2> !dct:title ?o }""").collect()
    assert sorted(r.o for r in rows) == \
        ["foaf:Document", "http://e/d1#S1.1"]


def test_expression_functions(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?c ?sub ?rep ?before ?after ?iff WHERE {
          ?d dct:title ?t .
          BIND(CONCAT(?t, "!") AS ?c)
          BIND(SUBSTR(?t, 1, 3) AS ?sub)
          BIND(REPLACE(?t, "a", "o") AS ?rep)
          BIND(STRBEFORE(?d, "#") AS ?before)
          BIND(STRAFTER(?d, "#") AS ?after)
          BIND(IF(?t = "Alpha", "first", "rest") AS ?iff)
          FILTER(strstarts(?t, "Section"))
        }""").collect()
    r, = rows
    assert (r.c, r.sub, r.rep) == ("Section 1!", "Sec", "Section 1")
    assert (r.before, r.after) == ("http://e/d1", "S1")
    assert r.iff == "rest"
    # COALESCE over an OPTIONAL null
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?r2 WHERE {
          ?d <rdf:type> "foaf:Document" .
          OPTIONAL { ?d dct:references ?r }
          BIND(COALESCE(?r, "none") AS ?r2)
        }""").collect()
    assert {r.d: r.r2 for r in rows} == {
        "http://e/d1": "none", "http://e/d2": "http://e/d1#S1.1"}


# ---------------------------------------------------------------------------
# subqueries

def test_subquery_aggregate_join(graph):
    # per-subject triple counts computed in a subquery, joined to titles
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?t ?n WHERE {
          ?d dct:title ?t .
          { SELECT ?d (COUNT(*) AS ?n) WHERE { ?d ?p ?o } GROUP BY ?d }
        }""").collect()
    assert {(r.d, r.t, r.n) for r in rows} == {
        ("http://e/d1", "Alpha", 2),
        ("http://e/d2", "Beta", 3),
        ("http://e/d1#S1", "Section 1", 2)}


def test_subquery_limit_restricts_outer(graph):
    # inner top-1 title (ordered) restricts the outer join
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?t WHERE {
          ?d dct:title ?t .
          { SELECT ?t WHERE { ?x dct:title ?t } ORDER BY ?t LIMIT 1 }
        }""").collect()
    assert [(r.d, r.t) for r in rows] == [("http://e/d1", "Alpha")]


def test_subquery_only_group(graph):
    row, = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?n WHERE {
          { SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o } }
        }""").collect()
    assert row.n == 8


# ---------------------------------------------------------------------------
# CONSTRUCT WHERE shorthand, DESCRIBE ?var, term functions

def test_construct_where_shorthand(graph):
    got = {(r.subj, r.pred, r.obj) for r in sparql_query(
        graph, """PREFIX dct: <http://purl.org/dc/terms/>
        CONSTRUCT WHERE { ?s dct:isPartOf ?o }""").collect()}
    assert got == {
        ("http://e/d1#S1", DCT + "isPartOf", "http://e/d1"),
        ("http://e/d1#S1.1", DCT + "isPartOf", "http://e/d1#S1")}
    with pytest.raises(ValueError, match="shorthand"):
        parse_sparql("""CONSTRUCT WHERE {
            ?s ?p ?o . FILTER(?o != "x") }""")


def test_describe_var_where(graph):
    # describe every resource d2 references: S1.1's full neighborhood
    rows = {(r.subj, r.pred, r.obj) for r in sparql_query(
        graph, """PREFIX dct: <http://purl.org/dc/terms/>
        DESCRIBE ?r WHERE { <http://e/d2> dct:references ?r }""").collect()}
    assert rows == {
        ("http://e/d1#S1.1", DCT + "isPartOf", "http://e/d1#S1"),
        ("http://e/d2", DCT + "references", "http://e/d1#S1.1")}
    # mixed IRI + var targets union their neighborhoods
    rows = {r.subj for r in sparql_query(
        graph, """PREFIX dct: <http://purl.org/dc/terms/>
        DESCRIBE <http://e/d1> ?r WHERE {
          <http://e/d2> dct:references ?r }""").collect()}
    assert rows == {"http://e/d1", "http://e/d1#S1",
                    "http://e/d1#S1.1", "http://e/d2"}


def test_iri_sameterm_isblank(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?d ?u WHERE {
          ?d dct:title ?t .
          BIND(IRI(CONCAT(?d, "/about")) AS ?u)
          FILTER(sameTerm(?t, "Alpha") && !isBlank(?d))
        }""").collect()
    assert [(r.d, r.u) for r in rows] == \
        [("http://e/d1", "http://e/d1/about")]


def test_arithmetic_and_xsd_casts(graph):
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT DISTINCT ?n ?m WHERE {
          ?d dct:title ?t .
          BIND(xsd:integer("40") + 2 * 5 AS ?n)
          BIND(10 - 3 AS ?m)
          FILTER(?n = 50 && ?m = 7 && (2 + 3) * 4 = 20)
        }""").collect()
    assert [(r.n, r.m) for r in rows] == [(50, 7)]
    # a failed cast is NULL -> filter-false, not a runtime abort
    rows = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?t WHERE {
          ?d dct:title ?t .
          FILTER(xsd:integer(?t) > 0)
        }""").collect()
    assert rows == []   # no title parses as an integer


def test_plan_pin_alternation_single_scan(graph):
    # (a|b) over plain predicates must compile to ONE isin-filtered
    # scan, not per-branch scans + union
    df = sparql_query(graph, """PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?s ?o WHERE { ?s (dct:references|dct:isPartOf) ?o }""")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert plan.lower().count("pred") >= 1   # the isin filter survives
    rows = {(r.s, r.o) for r in df.collect()}
    assert len(rows) == 3
