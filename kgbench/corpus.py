"""Seeded benchmark inputs, synthesized through the program's own
fixture generator (``fixtures.webpages.gen_row``).  Every row is a pure
function of (seed, index), so the same ``--seed`` gives the same pages.

A re-crawl keeps a page's index (hence its url) and draws its html
from another seed, so the content hash changes; brand-new pages use
indices at or above the corpus size.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import pyarrow as pa

from ferenda_spark.fixtures.webpages import gen_row

RECRAWL_SEED_OFFSET = 7919
# fixtures.webpages.WEB_PAGES_SCHEMA as an Arrow schema
SCHEMA = pa.schema([("url", pa.string()),
                    ("warc_ts", pa.timestamp("us", tz="UTC")),
                    ("html", pa.binary()), ("text", pa.string()),
                    ("lang", pa.string())])


def recrawl_seed(seed: int) -> int:
    return seed + RECRAWL_SEED_OFFSET


def corpus_rows(seed: int, n: int) -> list[dict]:
    return [gen_row(i, seed) for i in range(n)]


def crawl_rows(seed: int, n: int, n_recrawl: int,
               n_new: int) -> tuple[list[dict], list[dict]]:
    """(re-crawled rows, brand-new rows) of the small crawl committed on
    top of an ``n``-page corpus built from ``seed``.  A page's family
    (base/w3c/rfc/sfs) is a function of its index mod 10, so re-crawls
    are drawn evenly per residue and new pages take whole decades: every
    seed's crawl has the corpus's family mix, and the triples it yields
    vary little between seeds."""
    if n % 10 or n_recrawl % 10 or n_new % 10:
        raise ValueError("corpus and crawl sizes must be multiples of 10")
    rng = random.Random(seed * 1_000_003 + n)
    idx = sorted(i for r in range(10)
                 for i in rng.sample(range(r, n, 10), n_recrawl // 10))
    recrawled = [gen_row(i, recrawl_seed(seed)) for i in idx]
    new = [gen_row(i, seed) for i in range(n, n + n_new)]
    return recrawled, new


def url_md5(rows: list[dict]) -> set[tuple[str, str]]:
    return {(r["url"], hashlib.md5(r["html"]).hexdigest()) for r in rows}


def land(rows: list[dict], path: str, files: int) -> None:
    """Write pages as ``files`` parquet files in the ``web_pages`` schema
    (pyarrow, no Spark job): the timed code then reads from storage."""
    import pyarrow.parquet as pq
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for k in range(files):
        part = rows[k::files]
        table = pa.Table.from_pylist(
            [{c: r[c] for c in SCHEMA.names} for r in part], SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
