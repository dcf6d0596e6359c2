"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``seed`` (numpy ``RandomState``): the same
seed gives byte-identical parquet files, a different seed different ones. The
crawls are generated; the query-suite tables are the repository's sf0.01 test
tables with their rows permuted.
Nothing here imports Spark; the files are written with pyarrow, one row group
per table, which is the layout the engine's ``_spread`` parallelism floor
exists for.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dedupe_archived_files_spark.synth import EPOCH, VOCAB

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
LANGS = ["en", "en", "en", "de", "fr", "zh"]


def _ts(offset_s: int):
    return (EPOCH + np.timedelta64(int(offset_s), "s")).astype("datetime64[us]").item()


def _body(rng: np.random.RandomState, n_tokens: int) -> list[str]:
    return [VOCAB[i] for i in rng.randint(0, len(VOCAB), size=n_tokens)]


def _perturb(rng: np.random.RandomState, toks: list[str], frac: float) -> list[str]:
    out = list(toks)
    for p in rng.choice(len(out), size=max(1, int(len(out) * frac)), replace=False):
        out[p] = VOCAB[rng.randint(0, len(VOCAB))]
    return out


def _html(title: str, toks: list[str]) -> bytes:
    return (
        f"<html><head><title>{title}</title><script>var x=1;</script></head>"
        f"<body><p>{' '.join(toks)}</p></body></html>"
    ).encode("utf-8")


def write_parquet(path: str, rows: list[tuple], schema: pa.Schema) -> int:
    """Write ``rows`` as ONE row group; returns the file size in bytes."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return write_table(path, pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    ))


# --------------------------------------------------------------------------
# crawl corpora: pages + planted duplicate groups
# --------------------------------------------------------------------------


@dataclass
class Crawl:
    """A page corpus with its planted truth: ``group[url]`` is the url's
    duplicate group (-1 = unique). ``pages`` rows follow schema.PAGES."""

    pages: list = field(default_factory=list)
    group: dict = field(default_factory=dict)
    base: dict = field(default_factory=dict)  # group id -> base token list

    def labeled_pairs(self) -> list[tuple]:
        """Every within-group pair (positive) plus one cross-group pair per
        group (negative): the (url_a, url_b, is_dup, kind, block_key) rows
        ``evaluate_f1`` scores against."""
        members: dict[int, list[str]] = {}
        for url in sorted(self.group):
            g = self.group[url]
            if g >= 0:
                members.setdefault(g, []).append(url)
        rows = []
        gids = sorted(members)
        for i, g in enumerate(gids):
            m = members[g]
            rows += [(a, b, True, "near", "minhash") for k, a in enumerate(m) for b in m[k + 1:]]
            if len(gids) > 1:
                other = members[gids[(i + 1) % len(gids)]][0]
                a, b = sorted((m[0], other))
                rows.append((a, b, False, "hard_negative", "minhash"))
        return rows


def dupheavy_crawl(seed: int, n_groups: int, variants: int = 5, frac: float = 0.02) -> Crawl:
    """``n_groups`` seeded base bodies, each published under ``variants``
    urls as near-duplicates (``frac`` of tokens replaced per variant; the
    first variant is the unedited base). Candidate pairs outnumber pages."""
    rng = np.random.RandomState(seed)
    c = Crawl()
    for g in range(n_groups):
        base = _body(rng, 150 + int(rng.randint(0, 150)))
        c.base[g] = base
        lang = LANGS[g % len(LANGS)]
        for v in range(variants):
            toks = base if v == 0 else _perturb(rng, base, frac)
            url = f"https://mirror{v}.example.org/{g % 53}/page-{g}"
            c.pages.append((url, _ts(g * variants + v), _html(f"doc {g}", toks), None, lang))
            c.group[url] = g
    return c


def recrawl_snapshots(crawl: Crawl, seed: int, frac_urls: float = 0.005):
    """An endless seeded series of re-crawls of ``crawl``. Snapshot k
    re-captures ``frac_urls`` of the urls with a newer ``warc_ts`` and new
    content: alternately a fresh near-duplicate of the url's own group (same
    cluster, new edges) and unrelated content (the url leaves its cluster).
    Yields ``(rows, latest, truth)`` per snapshot: the re-crawled rows, the
    whole crawl as its latest capture per url (sorted by url), and the
    planted truth (``Crawl.group``) after it; ``crawl`` is left unchanged."""
    rng = np.random.RandomState(seed + 7919)
    urls = sorted(crawl.group)
    n = max(1, int(len(urls) * frac_urls))
    group = dict(crawl.group)
    latest = {r[0]: r for r in crawl.pages}
    k = 0
    while True:
        rows = []
        for j, i in enumerate(rng.choice(len(urls), size=n, replace=False)):
            url = urls[i]
            g = group[url]
            ts = _ts(86400 * (k + 1) + int(i))
            if g >= 0 and j % 2 == 0:
                toks = _perturb(rng, crawl.base[g], 0.02)
            else:
                toks = _body(rng, 150 + int(rng.randint(0, 150)))
                group[url] = -1
            rows.append((url, ts, _html(f"recrawl {k}", toks), None, "en"))
        latest.update((r[0], r) for r in rows)
        yield rows, [latest[u] for u in sorted(latest)], dict(group)
        k += 1


# --------------------------------------------------------------------------
# query-suite tables: the repository's sf0.01 documents and embeddings
# --------------------------------------------------------------------------

#: Read-only copies of the sf0.01 ``documents`` and ``embeddings`` test
#: tables, kept beside the benchmark so a run reads nothing outside the
#: checkout.
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
QUERY_TABLES = ("documents", "embeddings")


def query_tables(seed: int, src: str = QUERY_DATA) -> dict[str, pa.Table]:
    """The tables the query suite reads, with their row order permuted by
    ``seed``; content and schema stay identical."""
    rng = np.random.RandomState(seed + 104729)
    out = {}
    for name in QUERY_TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


def write_table(path: str, table: pa.Table) -> int:
    """Write ``table`` as ONE row group; returns the file size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="zstd")
    return os.path.getsize(path)
