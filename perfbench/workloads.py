"""The benchmark's workloads.

Each workload owns its seeded inputs, its correctness gate, a warm-up
and one timed *iteration*: everything from the first read of the input
to the last sink written.  With a ``Tracer`` the same iteration wraps
each call into a layer's public function in a span and forces
materialisation at the layer boundaries.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import threading
import time
from contextlib import contextmanager, nullcontext
from typing import Dict, List, Optional

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from markdown_articles_tool_spark import corpus
from markdown_articles_tool_spark.checkpoint import lineage
from markdown_articles_tool_spark.core.linkflow import DedupVariant, TransformConfig
from markdown_articles_tool_spark.oracle import ReferenceOracle
from markdown_articles_tool_spark.pipeline import LINKMETA_COLS

from . import inputs
from .trace import Tracer, TracingSink, dir_bytes


def transform_cfg() -> TransformConfig:
    # what `jobs/run_transform.py --dedup content_hash --skip-all-errors` runs
    return TransformConfig(skip_all_errors=True, deduplication=DedupVariant.CONTENT_HASH)


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _span(tracer: Optional[Tracer], name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _scan(tracer: Tracer, docs, path: str) -> Dict[str, float]:
    """Force the input scan on its own: every row, the text column read."""
    with tracer.span('scan'):
        n = docs.agg(F.count(F.lit(1)).alias('n'), F.sum(F.length('text')).alias('c')).first()['n']
    return {'scan.rows': n, 'scan.bytes': dir_bytes(path)}


class Gate:
    """Running count of checked outputs and of stated invariants broken."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: List[str] = []
        self.digests: Dict[str, str] = {}  # kind -> digest of the last outputs seen

    def compare(self, kind: str, expected: Dict[str, str], got: Dict[str, str]) -> None:
        """One output per key of either side; missing, extra or
        byte-different outputs fail."""
        self.digests[kind] = _sha(''.join(f'{k}:{got[k]}\n' for k in sorted(got)).encode())
        keys = expected.keys() | got.keys()
        bad = [k for k in keys if expected.get(k) != got.get(k)]
        self.attempted += len(keys)
        self.failed += len(bad)
        if bad:
            self.problems.append(f'{kind}: {len(bad)}/{len(keys)} differ, e.g. {sorted(bad)[:3]}')

    def require(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


class Workload:
    name = ''
    n_docs = 0   # docs in the timed input
    n_warm = 0   # docs in the warm-up slice
    # expected outputs come from the single-threaded ReferenceOracle
    sequential_oracle = False

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.gate = Gate()
        self.out = os.path.join(work, 'out')
        self.warm_out = os.path.join(work, 'warm-out')

    def in_path(self, kind: str) -> str:
        return os.path.join(self.work, 'input', kind)

    def make_inputs(self, n_files: int) -> Dict[str, float]:
        """Write the timed input and the warm-up slice; returns the input shape."""
        raise NotImplementedError

    def make_oracle(self) -> None:
        """Expected outputs computed without Spark, before the session starts."""

    def prepare(self, spark) -> None:
        """Session-bound set-up before the warm-up (e.g. a filter build)."""

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def reference(self, spark) -> None:
        """Spark-side expected outputs, computed after the warm-up."""

    def iteration(self, spark, tracer: Optional[Tracer]) -> Dict[str, float]:
        """One timed run over the timed input; returns layer counters."""
        raise NotImplementedError

    def check(self) -> Dict[str, float]:
        """Compare the last iteration's outputs; returns output counters."""
        raise NotImplementedError


# ------------------------------------------------------------------- resume


class TransformResume(Workload):
    """Fat CC-style pages through ``checkpoint.run_with_resume`` with
    ``ParquetMarkerSink``: a fresh sharded run, a simulated crash that
    deletes the commit markers of half the shards and every ``*_final``
    marker, then the restart.  The fresh run is a complete transform:
    shard-local extraction and fetch (``pipeline.extract_pass_links``),
    then the global dedup, rewrite and sinks (``pipeline.finish_pass``)."""

    name = 'transform_resume'
    n_docs = 1000
    n_warm = 40
    n_shards = 4
    sequential_oracle = True

    def make_inputs(self, n_files):
        self.inp = inputs.fat_pages(self.seed, self.n_docs, self.in_path('docs'), n_files)
        self.warm_path = self.in_path('warm')
        inputs.fat_pages(self.seed, self.n_warm, self.warm_path, n_files, offset=-10_000)
        rng = inputs.rng_for('resume', self.seed)
        self.lost = sorted(rng.sample(range(self.n_shards), self.n_shards // 2))
        return dict(self.inp.shape, shards=self.n_shards, shards_lost=len(self.lost))

    def make_oracle(self) -> None:
        res = ReferenceOracle(transform_cfg(), corpus.ModelAssetStore()).run(self.inp.docs)
        self.want_docs = {u: _sha(t.encode()) for u, t in res.texts.items()}
        self.want_images = {p: _sha(b) for p, b in res.images.items()}

    def warmup(self, spark) -> None:
        # one fresh sharded run: the restart executes the same code paths
        from markdown_articles_tool_spark.checkpoint import run_with_resume

        docs = spark.read.parquet(self.warm_path).select('url', 'text')
        run_with_resume(spark, docs, transform_cfg(), self.warm_out, n_shards=self.n_shards)
        spark.catalog.clearCache()

    def iteration(self, spark, tracer):
        from markdown_articles_tool_spark.checkpoint import run_with_resume
        from markdown_articles_tool_spark.io_sinks import ParquetMarkerSink

        path, out = self.inp.path, self.out
        shutil.rmtree(out, ignore_errors=True)
        sink = ParquetMarkerSink(out)
        layer: Dict[str, float] = {}
        counts: Dict[str, int] = {}
        docs = spark.read.parquet(path).select('url', 'text')
        if tracer is not None:
            sink = TracingSink(sink, tracer, out)
            layer.update(_scan(tracer, docs, path))
        with _traced_halves(tracer, layer):
            with _span(tracer, 'checkpoint.fresh'):
                run_with_resume(spark, docs, transform_cfg(), out, n_shards=self.n_shards, sink=sink)
            self._crash(out)
            t0 = time.perf_counter()
            with _span(tracer, 'checkpoint.restart'):
                rep = run_with_resume(spark, docs, transform_cfg(), out, n_shards=self.n_shards,
                                      sink=sink)
            layer['resume_s'] = time.perf_counter() - t0
        spark.catalog.clearCache()
        self.rerun = sorted(rep.shards_run)
        layer['checkpoint.shards_rerun'] = len(rep.shards_run)
        layer['checkpoint.rework_ratio'] = len(rep.shards_run) / len(self.lost)
        if tracer is not None:
            layer.update({'io_sinks.writes': sink.writes, 'io_sinks.bytes_written': sink.bytes_written})
            # the fresh run extracts every doc, the restart the lost shards' docs again
            n_docs = {r['shard']: r['n_docs'] for r in lineage(out)}
            extracted = sum(n_docs.values()) + sum(n_docs[k] for k in self.lost)
            layer['udfs.links_per_doc'] = layer.get('udfs.links', 0) / extracted
        return layer

    def _crash(self, out: str) -> None:
        commits = os.path.join(out, 'commits')
        lost = tuple(f'_shard={k}' for k in self.lost)
        for name in os.listdir(commits):
            if name.endswith('_final') or name.endswith(lost):
                os.remove(os.path.join(commits, name))

    def check(self):
        self.gate.require(self.rerun == self.lost,
                          f'restart reran shards {self.rerun}, lost {self.lost}')
        docs = pq.read_table(f'{self.out}/docs', columns=['url', 'text_out']).to_pydict()
        self.gate.compare('docs', self.want_docs, {
            u: _sha(t.encode()) for u, t in zip(docs['url'], docs['text_out']) if t is not None})
        imgs = pq.read_table(f'{self.out}/images', columns=['real_path', 'content']).to_pydict()
        self.gate.compare('images', self.want_images, {
            p: _sha(b) for p, b in zip(imgs['real_path'], imgs['content'])})
        n_img = len(imgs['real_path'])
        ok_links = sum(r['status_counts'].get('ok', 0) for r in lineage(self.out))
        return {'pipeline.images_written': n_img,
                'pipeline.dup_ratio': 1 - n_img / ok_links if ok_links else 0.0}


@contextmanager
def _traced_halves(tracer: Optional[Tracer], layer: Dict[str, float]):
    """While active, the checkpoint runner's calls into the two pipeline
    halves are wrapped: plan construction is timed as ``driver.plan``,
    then each persisted frame is forced inside its layer's span."""
    if tracer is None:
        yield
        return
    from markdown_articles_tool_spark import checkpoint

    real_extract, real_finish = checkpoint.extract_pass_links, checkpoint.finish_pass
    lock = threading.Lock()  # shards run in the runner's thread pool

    def extract(docs, cfg, **kw):
        with tracer.span('driver.plan'):
            links, fetched, cached = real_extract(docs, cfg, **kw)
        counts = _force_local_half(tracer, cached)
        with lock:
            for k, v in counts.items():
                layer[k] = layer.get(k, 0) + v
        return links, fetched, cached

    def finish(docs, links, fetched, cfg, **kw):
        with tracer.span('driver.plan'):
            res = real_finish(docs, links, fetched, cfg, **kw)
        with tracer.span('pipeline.global'):
            docs_out = res.docs_out.persist()
            docs_out.count()
        with tracer.span('pipeline.images'):
            images_out = res.images_out.persist()
            images_out.count()
        return dataclasses.replace(res, docs_out=docs_out, images_out=images_out,
                                   cached=tuple(res.cached) + (docs_out, images_out))

    checkpoint.extract_pass_links, checkpoint.finish_pass = extract, finish
    try:
        yield
    finally:
        checkpoint.extract_pass_links, checkpoint.finish_pass = real_extract, real_finish
        links, keys = layer.pop('_fetchable', 0), layer.get('fetch.keys', 0)
        if keys:
            layer['fetch.reuse'] = links / keys
            layer['fetch.ok_ratio'] = layer.pop('_fetch_ok') / keys


def _force_local_half(tracer: Tracer, cached) -> Dict[str, float]:
    """Materialise the persisted frames of ``pipeline.extract_pass_links``
    in plan order — extraction UDF, distinct-key fetch, link metadata —
    each inside its layer's span.  The frames are told apart by their
    columns.  Returns additive counters."""
    by_shape = {}
    for df in cached:
        cols = set(df.columns)
        if 'status0' in cols:
            by_shape['links_pre'] = df
        elif 'content' in cols:
            by_shape['fetched'] = df
        elif cols == set(LINKMETA_COLS):
            by_shape['links'] = df
    out: Dict[str, float] = {}
    if 'links_pre' in by_shape:
        with tracer.span('udfs.extract'):
            r = by_shape['links_pre'].agg(
                F.count(F.lit(1)).alias('links'), F.count('fetch_key').alias('fetchable')).first()
        out.update({'udfs.links': r['links'], '_fetchable': r['fetchable']})
    if 'fetched' in by_shape:
        with tracer.span('fetch'):
            r = by_shape['fetched'].agg(
                F.count(F.lit(1)).alias('keys'),
                F.coalesce(F.sum(F.length('content')), F.lit(0)).alias('bytes'),
                F.coalesce(F.sum(F.when(F.col('content').isNotNull() & (F.col('fetch_status') < 400), 1)),
                           F.lit(0)).alias('ok')).first()
        out.update({'fetch.keys': r['keys'], 'fetch.bytes': r['bytes'], '_fetch_ok': r['ok']})
    if 'links' in by_shape:
        with tracer.span('pipeline.local'):
            by_shape['links'].count()
    return out


# ------------------------------------------------------------------- curate


class CurateChain(Workload):
    """The ``jobs/run_curate.py`` stages plus near-dup removal, each
    through its public function: Bloom probe, domain filter, language
    rebalance, near-dup removal, span dedup, shard assignment; written
    partitioned by shard.  Each stage's output is persisted and counted
    before the next stage, as the job reports a count per stage."""

    name = 'curate_chain'
    n_docs = 500
    n_warm = 30
    n_history = 200
    lang_k = 12
    n_shards = 8
    flag_ratio = 45

    def make_inputs(self, n_files):
        self.inp = inputs.curate_docs(self.seed, self.n_docs, self.in_path('docs'), n_files,
                                      self.n_history)
        self.warm_path = self.in_path('warm')
        inputs.curate_docs(self.seed + 1_000_003, self.n_warm, self.warm_path, n_files, 50)
        return self.inp.shape

    def prepare(self, spark) -> None:
        from markdown_articles_tool_spark.training.bloomdedup import build_bloom

        hist = spark.read.parquet(self.inp.history_path)
        self.bloom = build_bloom(hist.withColumn('digest', F.sha2('text', 256)))

    def warmup(self, spark) -> None:
        self._chain(spark, self.warm_path, self.warm_out, None)
        spark.catalog.clearCache()

    def reference(self, spark) -> None:
        """No sequential oracle exists for the chain; the expected rows
        come from the same chain run with one partition per stage, which
        is what ``local[1]`` executes."""
        key = 'spark.sql.shuffle.partitions'
        prev = spark.conf.get(key)
        spark.conf.set(key, '1')
        ref_out = os.path.join(self.work, 'ref-out')
        try:
            _layer, counts = self._chain(spark, self.inp.path, ref_out, None, one_partition=True)
        finally:
            spark.conf.set(key, prev)
        spark.catalog.clearCache()
        self.want_rows = self._rows(ref_out)
        for stage, n in counts.items():
            self.gate.require(n > 0, f'curate stage {stage} kept no docs')

    def iteration(self, spark, tracer):
        layer, _counts = self._chain(spark, self.inp.path, self.out, tracer)
        spark.catalog.clearCache()
        return layer

    def _chain(self, spark, path, out, tracer, one_partition=False):
        """Run the chain; returns (layer counters, docs kept per stage)."""
        from markdown_articles_tool_spark.training.bloomdedup import (
            DEFAULT_K, DEFAULT_M_BITS, bloom_probe)
        from markdown_articles_tool_spark.training.cluster import neardup_apply
        from markdown_articles_tool_spark.training.dedup import dedup_spans
        from markdown_articles_tool_spark.training.domains import domain_filter
        from markdown_articles_tool_spark.training.sampling import dataset_shards, lang_rebalance

        layer: Dict[str, float] = {}
        counts: Dict[str, int] = {}
        docs = spark.read.parquet(path)
        if one_partition:
            docs = docs.repartition(1)
        if tracer is not None:
            layer.update(_scan(tracer, docs, path))
            n_in = layer['scan.rows']
        else:
            n_in = docs.count()
        held = []

        def stage(module: str, fn) -> None:
            nonlocal docs, n_in
            with _span(tracer, f'training.{module}'):
                docs = fn(docs).persist()
                n = docs.count()
            for df in held:
                df.unpersist()
            held[:] = [docs]
            layer[f'training.{module}.keep_ratio'] = n / n_in if n_in else 0.0
            counts[module] = n
            n_in = n

        stage('bloomdedup', lambda d: bloom_probe(
            d.withColumn('_digest', F.sha2('text', 256)), self.bloom, '_digest',
            DEFAULT_M_BITS, DEFAULT_K,
        ).where('novel').drop('_digest', 'novel'))
        stage('domains', lambda d: domain_filter(d, flag_ratio=self.flag_ratio))
        stage('sampling', lambda d: d.join(
            F.broadcast(lang_rebalance(d, k=self.lang_k).select('doc_id')), 'doc_id'))
        stage('cluster', neardup_apply)
        stage('dedup', lambda d: d.join(dedup_spans(d), 'doc_id'))
        with _span(tracer, 'training.sampling'):
            assign = dataset_shards(docs, n_shards=self.n_shards).select('doc_id', 'shard', 'pos')
            docs.join(assign, 'doc_id').write.mode('overwrite').partitionBy('shard').parquet(
                f'{out}/curated')
        for df in held:
            df.unpersist()
        return layer, counts

    @staticmethod
    def _rows(out: str) -> Dict[str, str]:
        """doc_id -> digest of the whole output row (shard included)."""
        t = pads.dataset(f'{out}/curated', format='parquet', partitioning='hive').to_table()
        rows = {}
        for r in t.to_pylist():
            r['shard'] = int(r['shard'])
            rows[str(r['doc_id'])] = _sha(json.dumps(r, sort_keys=True, default=str).encode())
        return rows

    def check(self):
        self.gate.compare('curated', self.want_rows, self._rows(self.out))
        return {}


WORKLOADS = {w.name: w for w in (TransformResume, CurateChain)}
