"""Seeded corpus generators for the benchmark workloads.

The inputs are made here, outside the engine, with pyarrow only: the same
(workload, seed, size) always gives the same parquet bytes, and the engine
receives nothing but the pages table ``(url, warc_ts, html, text, lang)``.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the quick brown fox jumps over lazy dog crawl frontier spark shuffle "
    "partition bloom filter robots sitemap depth politeness host anchor link "
    "page index data web graph queue batch arrow kernel parse token"
).split()

TS = datetime.datetime(2026, 1, 1)


def _table(rows: list) -> pa.Table:
    urls, bodies, texts = zip(*rows) if rows else ((), (), ())
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array([TS] * len(rows), pa.timestamp("us")),
            "html": pa.array([b.encode() for b in bodies], pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        }
    )


def _page(url: str, links: list, words: str, title: str) -> tuple:
    anchors = "".join(f'<a href="{h}">l{k}</a>' for k, h in enumerate(links))
    body = (
        f"<html><head><title>{title}</title></head><body>{anchors}"
        f"<p>{words}</p></body></html>"
    )
    return url, body, f"{title} {words}"


def wide_pages(seed: int, n_pages: int, n_hosts: int = 20, links: int = 16, words: int = 24) -> list:
    """Multi-host random web graph with a hot host: h0 owns about half the
    pages. Page ids below ``n_hosts`` are the host roots. Every fourth link
    (and every link to a root) is absolute and may cross hosts; the rest are
    host-relative, so a host-scoped crawl follows them."""
    rng = random.Random(f"wide:{seed}")
    host = [
        p if p < n_hosts else (0 if p % 2 == 0 else 1 + rng.randrange(n_hosts - 1))
        for p in range(n_pages)
    ]

    def url(p):
        return f"http://h{host[p]}.test" if p < n_hosts else f"http://h{host[p]}.test/p{p}"

    rows = []
    for p in range(n_pages):
        hrefs = []
        for k in range(links):
            t = rng.randrange(n_pages)
            hrefs.append(url(t) if k % 4 == 3 or t < n_hosts else f"/p{t}")
        hrefs.append(f"/img/{p % 97}.png")
        text = " ".join(rng.choice(WORDS) for _ in range(words))
        rows.append(_page(url(p), hrefs, text, f"page {p}"))
    rng.shuffle(rows)  # file order carries no crawl order
    return rows


def fat_pages(seed: int, n_pages: int, n_hosts: int = 20, links: int = 40, words: int = 200) -> list:
    """Link-heavy pages for stream ingest: ``links`` links and ``words``
    words each, linking into a URL space twice the page count so candidates
    repeat across pages and batches."""
    rng = random.Random(f"fat:{seed}")
    space = 2 * n_pages
    rows = []
    for p in range(n_pages):
        hrefs = []
        for k in range(links):
            t = rng.randrange(space)
            hrefs.append(f"http://h{t % n_hosts}.test/p{t}" if k % 4 == 3 else f"/p{t}")
        text = " ".join(rng.choice(WORDS) for _ in range(words))
        rows.append(_page(f"http://h{p % n_hosts}.test/p{p}", hrefs, text, f"fat {p}"))
    return rows


def digest(rows: list) -> str:
    """Short content hash of generated rows, used to key the parquet cache."""
    h = hashlib.blake2b(digest_size=8)
    for url, body, _ in rows:
        h.update(url.encode())
        h.update(body.encode())
    return h.hexdigest()


def write_parquet(rows: list, path: str, n_files: int = 1) -> None:
    """Write ``rows`` as ``n_files`` parquet files under directory ``path``
    (contiguous slices, named so that file order is row order)."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(_table(rows[i * per:(i + 1) * per]), os.path.join(path, f"part-{i:05d}.parquet"))
