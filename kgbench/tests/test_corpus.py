"""Seeded inputs: reproducible pages and the incremental crawl split."""

from collections import Counter

from kgbench import corpus

N = 60


def _families(rows):
    return Counter(r["url"].split("/")[4] for r in rows)


def test_same_seed_gives_the_same_url_md5_set():
    a = corpus.url_md5(corpus.corpus_rows(3, N))
    b = corpus.url_md5(corpus.corpus_rows(3, N))
    assert a == b and len(a) == N


def test_landed_parquet_holds_the_same_pages(tmp_path):
    import hashlib

    import pyarrow.parquet as pq
    rows = corpus.corpus_rows(3, N)
    corpus.land(rows, str(tmp_path / "pages"), 4)
    table = pq.read_table(str(tmp_path / "pages"))
    assert table.schema == corpus.SCHEMA
    got = {(u, hashlib.md5(h).hexdigest())
           for u, h in zip(table["url"].to_pylist(),
                           table["html"].to_pylist())}
    assert got == corpus.url_md5(rows)
    assert len(list((tmp_path / "pages").iterdir())) == 4


def test_another_seed_changes_the_html_but_not_the_urls():
    a = corpus.corpus_rows(3, N)
    b = corpus.corpus_rows(4, N)
    assert [r["url"] for r in a] == [r["url"] for r in b]
    assert not corpus.url_md5(a) & corpus.url_md5(b)


def test_incremental_crawl_splits_into_recrawled_and_new_urls():
    rows = corpus.corpus_rows(5, N)
    urls = {r["url"] for r in rows}
    recrawled, new = corpus.crawl_rows(5, N, 10, 10)
    assert len(recrawled) == 10 and len(new) == 10
    # re-crawls: known urls with changed content => pending again
    assert {r["url"] for r in recrawled} <= urls
    assert not corpus.url_md5(recrawled) & corpus.url_md5(rows)
    # new urls: indices >= N, never seen before
    assert not {r["url"] for r in new} & urls
    assert len({r["url"] for r in recrawled + new}) == 20
    # both halves keep the corpus's page-family mix
    assert _families(recrawled) == _families(new) == _families(rows[:10])
    # the split itself is seeded
    again = corpus.crawl_rows(5, N, 10, 10)
    assert corpus.url_md5(again[0] + again[1]) == \
        corpus.url_md5(recrawled + new)
