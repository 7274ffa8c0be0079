"""Single-process pass over the extract kernel (traced runs only).

Calls ``operators.extract.extract_one`` on seeded pages with the public
``htmlparse``, ``rfc_parse``, ``fsm`` and ``citations`` functions
wrapped, and reports each phase's self time per 1,000 documents.
Phases nest (``as_plaintext`` runs inside ``w3c_structure``), which is
why self time is used.
"""

from __future__ import annotations

from kgbench.tracing import Tracer, self_times

# phase -> (module, attribute) as extract_one looks the function up
PHASES = {
    "parse_html": ("hp", "parse_html"),
    "content_select": ("hp", "content_select"),
    "clean_tree": ("hp", "clean_tree"),
    "as_plaintext": ("hp", "as_plaintext"),
    "blocks": ("hp", "blocks"),
    "rfc_parse": ("E", "parse_rfc_text"),
    "w3c_structure": ("E", "w3c_structure"),
    "citations": ("E", "find_citations"),
}
WARMUP = 20


def profile(pages: list[dict]) -> dict[str, float]:
    from ferenda_spark import htmlparse as hp
    from ferenda_spark.operators import extract as E
    holders = {"hp": hp, "E": E}
    for r in pages[:WARMUP]:
        E.extract_one(r["url"], r["html"])
    tracer = Tracer(enabled=True)
    undo = [tracer.wrap(holders[h], attr, phase)
            for phase, (h, attr) in PHASES.items()]
    try:
        for r in pages:
            with tracer.span("extract_one"):
                E.extract_one(r["url"], r["html"])
    finally:
        for u in undo:
            u()
    out = dict.fromkeys(PHASES, 0.0)
    for span, st in zip(tracer.spans, self_times(tracer.spans)):
        if span.name in out:
            out[span.name] += st
    return {k: v * 1000 / len(pages) for k, v in out.items()}
