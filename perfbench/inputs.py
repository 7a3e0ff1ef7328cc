"""Seeded input generators.

Every input is a pure function of ``(workload, seed)``: the seed picks
the document-index window fed to ``corpus.doc_row`` and every draw of
the curation generator.  The program under test only
ever sees the parquet files written here.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from markdown_articles_tool_spark import corpus

# seed kept out of every tuning run; the acceptance runs use it once
HELD_OUT_SEED = 7919017


def rng_for(kind: str, seed: int) -> random.Random:
    # str seeds hash through sha512: stable across processes and Pythons
    return random.Random(f'{kind}:{seed}')


@dataclass
class Inputs:
    path: str                      # parquet directory the program reads
    docs: List[Tuple[str, str]]    # (url, text) or (doc_id, text) for the gates
    shape: Dict[str, float] = field(default_factory=dict)
    history_path: str = ''         # curation only: the Bloom filter's history slice


def write_parquet(table: pa.Table, path: str, n_files: int) -> int:
    """Split ``table`` into ``n_files`` parquet files; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    total = 0
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        fn = os.path.join(path, f'part-{k:05d}.parquet')
        pq.write_table(table.slice(lo, hi - lo), fn)
        total += os.path.getsize(fn)
    return total


def _remote_links(text: str) -> List[str]:
    from markdown_articles_tool_spark.core.mdparse import extract_image_links
    from markdown_articles_tool_spark.core.wwwtools import fetch_key, is_url

    return [fetch_key(src) for src, _w, _h in extract_image_links(text) if is_url(src)]


def fat_pages(seed: int, n: int, path: str, n_files: int, offset: int = 0) -> Inputs:
    """Fat CC-style pages (multi-KB text, ~12 remote image links, nearly
    every link a distinct URL) over a seed-derived window of ``corpus.doc_row``."""
    start = 1_000_000 + rng_for('fat', seed).randrange(0, 40_000_000) + offset
    rows = [corpus.doc_row(i, fat=True) for i in range(start, start + n)]
    table = pa.table({
        'url': [r[0] for r in rows],
        'warc_ts': pa.array([r[1] for r in rows], pa.timestamp('us', tz='UTC')),
        'html': pa.array([r[2] for r in rows], pa.binary()),
        'text': [r[3] for r in rows],
        'lang': [r[4] for r in rows],
    })
    nbytes = write_parquet(table, path, n_files)
    docs = [(r[0], r[3]) for r in rows]
    links = [u for _u, t in docs for u in _remote_links(t)]
    shape = {
        'docs': n,
        'text_bytes': sum(len(t.encode()) for _u, t in docs),
        'links': len(links),
        'distinct_fetch_keys': len(set(links)),
        'reuse': len(links) / len(set(links)),
        'parquet_bytes': nbytes,
        'window_start': start,
    }
    return Inputs(path, docs, shape)


_LANG_WEIGHTS = (('en', 55), ('de', 25), ('ru', 12), ('fr', 8))


def _vocab(rng: random.Random, n: int) -> List[str]:
    syl = ['ka', 'lo', 'mi', 'ne', 'ru', 'ta', 'shi', 'vo', 'de', 'pa', 'gri', 'sel',
           'om', 'an', 'tu', 'ber', 'qui', 'zo', 'fe', 'lin']
    words = set()
    while len(words) < n:
        words.add(''.join(rng.choice(syl) for _ in range(rng.randrange(2, 5))))
    return sorted(words)


def curate_docs(seed: int, n: int, path: str, n_files: int, n_history: int,
                n_sources: int = 24, n_farms: int = 4) -> Inputs:
    """(doc_id, text, lang, source) docs for the curation chain, plus a
    disjoint history slice for the Bloom filter.

    Planted structure, so every stage keeps some docs and drops some:
    re-crawls of history docs (Bloom drop), template-farm sources with
    collapsed vocabulary (domain drop), a head language (rebalance
    drop), near-copies with one word changed (near-dup drop), and a
    per-source boilerplate footer (span dedup).
    """
    rng = rng_for('curate', seed)
    vocab = _vocab(rng, 4000)
    sources = [f'src{k:02d}.example' for k in range(n_sources)]
    farms = sources[:n_farms]

    def prose(r: random.Random) -> str:
        n_words = 120 + r.randrange(80)
        ws = [vocab[int(len(vocab) * r.random() ** 1.7)] for _ in range(n_words)]
        sents, k = [], 0
        while k < len(ws):
            step = 8 + r.randrange(8)
            sents.append(' '.join(ws[k:k + step]).capitalize() + '.')
            k += step
        return ' '.join(sents)

    def farm_text(src: str, r: random.Random) -> str:
        slot = vocab[r.randrange(40)]
        return ' '.join([f'Best {slot} deals at {src} buy cheap {slot} today'] * 12)

    def footer(src: str) -> str:
        return f'\n\nCopyright {src} all rights reserved. Subscribe to the {src} newsletter.'

    hist_ids = list(range(10**9 + seed % 1000 * 10**5, 10**9 + seed % 1000 * 10**5 + n_history))
    history = []
    for did in hist_ids:
        src = sources[rng.randrange(n_farms, n_sources)]
        history.append((did, prose(rng) + footer(src)))

    # exact role and language counts, shuffled: every seed gets the same
    # composition, only the content differs
    n_farm, n_recrawl, n_near = n * 16 // 100, n * 8 // 100, n * 8 // 100
    roles = (['farm'] * n_farm + ['recrawl'] * n_recrawl + ['near'] * n_near
             + ['prose'] * (n - n_farm - n_recrawl - n_near))
    rng.shuffle(roles)
    langs = [lang for lang, w in _LANG_WEIGHTS for _ in range(n * w // 100)]
    langs += ['en'] * (n - len(langs))
    rng.shuffle(langs)
    clean = sources[n_farms:]

    base = 10**6 * (1 + seed % 997)
    ids, texts, src_col, prose_idx = [], [], [], []
    for i, role in enumerate(roles):
        if role == 'near' and prose_idx:
            j = rng.choice(prose_idx)                      # near-copy of an earlier doc
            words = texts[j].split(' ')
            words[rng.randrange(len(words) // 2)] = rng.choice(vocab)
            text, src = ' '.join(words), src_col[j]
        elif role == 'farm':
            src = farms[i % n_farms]
            text = farm_text(src, rng)
        elif role == 'recrawl':
            src = rng.choice(clean)
            text = rng.choice(history)[1]                  # re-crawl of a seen doc
        else:
            src = rng.choice(clean)
            text = prose(rng) + footer(src)
            prose_idx.append(i)
        ids.append(base + i)
        texts.append(text)
        src_col.append(src)
    table = pa.table({'doc_id': pa.array(ids, pa.int64()), 'text': texts,
                      'lang': langs, 'source': src_col})
    nbytes = write_parquet(table, path, n_files)
    hist_table = pa.table({'doc_id': pa.array([h[0] for h in history], pa.int64()),
                           'text': [h[1] for h in history]})
    hist_path = path.rstrip('/') + '_history'
    write_parquet(hist_table, hist_path, 1)
    shape = {'docs': n, 'text_bytes': sum(len(t.encode()) for t in texts),
             'history_docs': n_history, 'sources': n_sources, 'parquet_bytes': nbytes}
    return Inputs(path, list(zip(ids, texts)), shape, history_path=hist_path)
