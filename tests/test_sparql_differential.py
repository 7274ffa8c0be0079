"""Differential gate for the SPARQL compiler (operators/sparql.py):
an INDEPENDENT naive evaluator (nested-loop enumeration over the
triple list, no Spark, no shared code) must agree with the compiled
DataFrame plan on randomized graphs and a pool of query shapes.

The naive evaluator implements the same algebra the compiler's module
docstring specifies (patterns joined on shared vars -> UNION branches
joined in -> OPTIONALs left-joined -> BINDs -> FILTERs), with bag
semantics for solutions and the documented set semantics for path
edge sets — the same twin strategy the repo uses for the scalar
function library (tests/test_scalars.py)."""

import itertools
import random

import pytest

from ferenda_spark.operators.sparql import parse_sparql, sparql_query

DCT = "http://purl.org/dc/terms/"


# ---------------------------------------------------------------------------
# naive evaluator (pure Python, written against the SPARQL spec subset —
# intentionally shares NO code with the compiler)

def _naive_closure(edges, lo, hi):
    """Pairs joined by a path of lo..hi edges (hi None = unbounded):
    a true least fixpoint, so chains of any depth and cycles are
    covered.  A zero-length component (lo == 0) is the identity over
    the edge subgraph's nodes (the compiler's documented deviation
    from the spec's all-terms domain)."""
    def step(pairs):
        return {(a, d) for (a, b) in pairs for (c, d) in edges if b == c}

    exact = set(edges)                  # paths of exactly max(lo,1) edges
    for _ in range(max(lo, 1) - 1):
        exact = step(exact)
    out = exact if hi is None or hi >= max(lo, 1) else set()
    if hi is None:
        while not step(out) <= out:
            out = out | step(out)
    else:
        for _ in range(max(lo, 1), hi):
            exact = step(exact)
            out = out | exact
    if lo == 0:
        out = out | {(n, n) for e in edges for n in e}
    return out


def _naive_nullable(alt):
    """Does the path expression match a zero-length path?"""
    def elt_nullable(elt):
        return ((elt.quant is not None and elt.quant[0] == 0)
                or (elt.group is not None and _naive_nullable(elt.group)))
    return any(all(elt_nullable(e) for e in seq.elts) for seq in alt.seqs)


def _naive_elt_edges(triples, elt):
    if elt.neg is not None:
        base = {(s, o) for (s, p, o) in triples if p not in elt.neg}
    elif elt.group is not None:
        base = _naive_alt_edges(triples, elt.group)
    else:
        base = {(s, o) for (s, p, o) in triples if p == elt.iri}
    if elt.inverse:
        base = {(o, s) for (s, o) in base}
    if elt.quant is not None:
        base = _naive_closure(base, *elt.quant)
    return base


def _naive_alt_edges(triples, alt):
    out = set()
    for seq in alt.seqs:
        acc = None
        for elt in seq.elts:
            e = _naive_elt_edges(triples, elt)
            acc = e if acc is None else {
                (a, d) for (a, b) in acc for (c, d) in e if b == c}
        out |= acc
    return out


def _match_pattern(triples, pat, binding):
    """All extensions of ``binding`` by one solution of ``pat``."""
    out = []
    if pat.p.kind == "path":
        pairs = _naive_alt_edges(triples, pat.p.value)
        # spec: a zero-length path from a constant endpoint matches
        # that constant, whether or not it occurs in the graph
        const = next((t.value for t in (pat.s, pat.o)
                      if t.kind != "var"), None)
        if const is not None and _naive_nullable(pat.p.value):
            pairs = pairs | {(const, const)}
        cands = [((s, o), ((pat.s, s), (pat.o, o)))
                 for (s, o) in sorted(pairs)]
    else:
        cands = [((s, p, o),
                  ((pat.s, s), (pat.p, p), (pat.o, o)))
                 for (s, p, o) in triples]
    for _, pairs in cands:
        b = dict(binding)
        ok = True
        for term, val in pairs:
            if term.kind == "var":
                if term.value in b and b[term.value] != val:
                    ok = False
                    break
                b[term.value] = val
            elif term.value != val:
                ok = False
                break
        if ok:
            out.append(b)
    return out


def _eval_bgp(triples, patterns, bindings):
    for pat in patterns:
        nxt = []
        for b in bindings:
            nxt.extend(_match_pattern(triples, pat, b))
        bindings = nxt
    return bindings


def _join(left, right):
    out = []
    for lb in left:
        for rb in right:
            if all(lb[k] == rb[k] for k in lb.keys() & rb.keys()
                   if lb[k] is not None and rb[k] is not None):
                m = dict(lb)
                m.update({k: v for k, v in rb.items() if v is not None})
                out.append(m)
    return out


def _left_join(left, right):
    out = []
    rvars = set().union(*(rb.keys() for rb in right)) if right else set()
    for lb in left:
        matches = [rb for rb in right
                   if all(lb[k] == rb[k] for k in lb.keys() & rb.keys()
                          if lb[k] is not None)]
        if matches:
            for rb in matches:
                m = dict(lb)
                m.update(rb)
                out.append(m)
        else:
            m = dict(lb)
            m.update({v: None for v in rvars - lb.keys()})
            out.append(m)
    return out


def _eval_filter(toks, b):
    """Evaluate the tiny FILTER subset the fuzz pool uses:
    ?x = ?y | ?x != ?y | ?x = "lit" | ?x != "lit" | bound(?x)."""
    if toks[0].lower() == "bound":
        return b.get(toks[2][1:]) is not None
    lhs = b.get(toks[0][1:])
    rhs = toks[2][1:-1] if toks[2].startswith('"') else \
        toks[2][1:-1] if toks[2].startswith("<") else b.get(toks[2][1:])
    if lhs is None or rhs is None:
        return False
    return (lhs == rhs) if toks[1] == "=" else (lhs != rhs)


def _eval_group(triples, g):
    sol = _eval_bgp(triples, g.patterns, [dict()]) if g.patterns else None
    for branches in g.unions:
        udf = []
        branch_sols = [_eval_group(triples, b) for b in branches]
        allvars = set().union(*(set().union(*(bb.keys() for bb in bs))
                                if bs else set() for bs in branch_sols))
        for bs in branch_sols:
            for b in bs:
                m = {v: b.get(v) for v in allvars}
                udf.append(m)
        sol = udf if sol is None else _join(sol, udf)
    for opt in g.optionals:
        osol = _eval_group(triples, opt)
        sol = _left_join(sol, osol)
    for names, rows in g.values:
        vsol = [dict(zip(names, r)) for r in rows]
        sol = _join(sol, vsol) if sol is not None else vsol
    for positive, eg in g.exists:
        esol = _eval_group(triples, eg)
        evars = set().union(*(e.keys() for e in esol)) if esol else set()

        def _matches(lb, evars=evars, esol=esol):
            shared = [k for k in evars if k in lb]
            return any(all(lb[k] is not None and lb[k] == rb.get(k)
                           for k in shared) for rb in esol)
        sol = [lb for lb in sol if _matches(lb) == positive]
    for mg in g.minuses:
        msol = _eval_group(triples, mg)
        mvars = set().union(*(m.keys() for m in msol)) if msol else set()
        shared_any = any(k in lb for lb in sol for k in mvars)
        if shared_any:
            sol = [lb for lb in sol
                   if not any(all(lb.get(k) is not None
                                  and lb.get(k) == rb.get(k)
                                  for k in mvars if k in lb)
                              for rb in msol)]
    for ftoks in g.filters:
        sol = [b for b in sol if _eval_filter(ftoks, b)]
    return sol


def naive_select(triples, query):
    ast = parse_sparql(query)
    sol = _eval_group(triples, ast.where)
    rows = [tuple(b.get(v) for v in ast.select_vars) for b in sol]
    if ast.distinct:
        rows = list(set(rows))
    return sorted(rows, key=lambda r: tuple(x or "" for x in r))


# ---------------------------------------------------------------------------
# randomized graphs x query pool

SUBJECTS = ["http://e/a", "http://e/b", "http://e/c"]
PREDS = [DCT + "title", DCT + "isPartOf", DCT + "references"]
OBJS = ["X", "Y", "http://e/a", "http://e/b"]

QUERY_POOL = [
    # plain BGP joins
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o }""",
    """SELECT ?s ?t WHERE { ?s <%(p0)s> ?o . ?o <%(p1)s> ?t }""",
    """SELECT ?s WHERE { ?s <%(p0)s> "X" . ?s <%(p1)s> ?y }""",
    # shared-var self join
    """SELECT ?x ?y WHERE { ?x <%(p0)s> ?y . ?y <%(p0)s> ?x }""",
    # OPTIONAL null-pad
    """SELECT ?s ?t WHERE { ?s <%(p0)s> ?o .
       OPTIONAL { ?s <%(p1)s> ?t } }""",
    # OPTIONAL + bound filter
    """SELECT ?s WHERE { ?s <%(p0)s> ?o .
       OPTIONAL { ?s <%(p1)s> ?t } FILTER(bound(?t)) }""",
    # UNION with disjoint vars
    """SELECT ?a ?b WHERE {
       { ?x <%(p0)s> ?a } UNION { ?x <%(p1)s> ?b } }""",
    # UNION joined to a base pattern on the shared var
    """SELECT ?x ?v WHERE { ?x <%(p2)s> ?z .
       { ?x <%(p0)s> ?v } UNION { ?x <%(p1)s> ?v } }""",
    # equality / inequality filters
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o . FILTER(?o != "X") }""",
    """SELECT ?s WHERE { ?s <%(p0)s> ?o . ?s <%(p1)s> ?o }""",
    # DISTINCT projection
    """SELECT DISTINCT ?o WHERE { ?s <%(p0)s> ?o }""",
    # property paths: closures, sequence, inverse, alternation,
    # negated set, quantified group
    """SELECT ?x ?y WHERE { ?x <%(p1)s>* ?y }""",
    """SELECT ?x WHERE { ?x <%(p1)s>+ <http://e/a> }""",
    """SELECT ?x ?y WHERE { ?x <%(p0)s>/<%(p1)s> ?y }""",
    """SELECT ?x ?y WHERE { ?x ^<%(p0)s> ?y }""",
    """SELECT ?x ?y WHERE { ?x (<%(p0)s>|<%(p1)s>) ?y }""",
    """SELECT ?x ?y WHERE { ?x !(<%(p0)s>) ?y }""",
    """SELECT ?x ?y WHERE { ?x (<%(p0)s>|^<%(p1)s>)+ ?y }""",
    """SELECT ?x ?y WHERE { ?x <%(p0)s>?/<%(p1)s> ?y }""",
    # closures from a constant endpoint (deep and zero-length), both
    # spellings, and exact bounds
    """SELECT ?o WHERE { <http://e/n0> <%(p0)s>* ?o }""",
    """SELECT ?o WHERE { <http://e/n0> (<%(p0)s>)+ ?o }""",
    """SELECT ?o WHERE { <http://e/z> (<%(p0)s>)* ?o }""",
    """SELECT ?o WHERE { <http://e/z> (<%(p0)s>|^<%(p0)s>)* ?o }""",
    """SELECT ?x ?y WHERE { ?x <%(p0)s>{2,3} ?y }""",
    # EXISTS / NOT EXISTS / MINUS / VALUES
    """SELECT ?s WHERE { ?s <%(p0)s> ?o .
       FILTER NOT EXISTS { ?s <%(p1)s> ?t } }""",
    """SELECT ?s WHERE { ?s <%(p0)s> ?o .
       FILTER EXISTS { ?s <%(p1)s> ?t } }""",
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o . MINUS { ?s <%(p1)s> "X" } }""",
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o .
       VALUES ?o { "X" "http://e/a" } }""",
]


def _random_graph(rng, n):
    return sorted({(rng.choice(SUBJECTS), rng.choice(PREDS),
                    rng.choice(OBJS)) for _ in range(n)})


def _check_pool(spark, triples, preds, label):
    df = spark.createDataFrame(
        triples, "subj string, pred string, obj string")
    p0, p1, p2 = preds
    for qt in QUERY_POOL:
        q = qt % {"p0": p0, "p1": p1, "p2": p2}
        expected = naive_select(triples, q)
        got = sorted((tuple(r) for r in sparql_query(df, q).collect()),
                     key=lambda r: tuple(x or "" for x in r))
        assert got == expected, (
            f"{label} query={q!r}\n got={got}\n expected={expected}\n"
            f" graph={triples}")


@pytest.mark.parametrize("seed", range(8))
def test_compiler_agrees_with_naive_evaluator(spark, seed):
    rng = random.Random(seed)
    triples = _random_graph(rng, rng.randint(4, 12))
    perms = list(itertools.permutations(PREDS))
    _check_pool(spark, triples, perms[seed % len(perms)], f"seed={seed}")


def test_compiler_agrees_on_deep_chain_with_cycle(spark):
    """The random graphs above have 3 subjects, so a closure cut at
    depth 3 already finds every pair there.  Here n0 -> n1 -> ... -> n5
    is a 5-edge isPartOf chain and n5 -> n2 closes a cycle, so a
    closure must run past depth 3 and still terminate.  z has no part edge, so
    z-rooted zero-length paths start outside the path's subgraph."""
    part, ref, title = DCT + "isPartOf", DCT + "references", DCT + "title"
    n = [f"http://e/n{i}" for i in range(6)]
    triples = sorted(
        [(n[i], part, n[i + 1]) for i in range(5)]
        + [(n[5], part, n[2]), (n[1], ref, n[4]), (n[4], ref, n[0]),
           ("http://e/z", ref, n[3]), (n[0], title, "X"),
           (n[3], title, "Y")])
    _check_pool(spark, triples, (part, ref, title), "deep chain")
