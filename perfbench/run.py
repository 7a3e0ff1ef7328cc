#!/usr/bin/env python3
"""Benchmark of the markdown transform, its checkpointed resume and the
curation chain.

    python3 perfbench/run.py --workload transform_resume --seed 1 --seconds 8 --trace 0

Run from the repository root.  One process runs one workload as a
closed loop: one Spark job at a time on ``local[nproc]``.  It

1. writes the seeded inputs and computes the expected outputs
   (sequential ``oracle.ReferenceOracle``, or for ``curate_chain`` a
   one-partition reference run after the warm-up), outside every timed
   window;
2. starts the SparkSession and runs one untimed warm-up on a small
   slice (together: ``setup_s``);
3. repeats the timed iteration until ``--seconds`` have passed (at
   least once) and checks every iteration's outputs;
4. with ``--trace 1``, repeats the iteration with spans around each
   layer until half as long again has passed (at least once).

Every metric is printed as ``name value unit``; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``).  Full records and spans land in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402  (stdlib-only; safe before env pinning)

END_TO_END = (
    ('setup_s', 's'), ('docs_per_s', 'docs/s'), ('wall_s', 's'), ('cpu_s_per_kdoc', 's'),
    ('resume_s', 's'),
)

# span name -> per-layer metric holding the span's self time
SPAN_METRICS = {
    'scan': 'scan.s',
    'udfs.extract': 'udfs.extract_s',
    'fetch': 'fetch.s',
    'pipeline.local': 'pipeline.local_s',
    'pipeline.global': 'pipeline.global_s',
    'pipeline.images': 'pipeline.images_s',
    'driver.plan': 'driver.plan_s',
    'checkpoint.fresh': 'checkpoint.fresh_s',
    'checkpoint.restart': 'checkpoint.restart_s',
    'io_sinks.write': 'io_sinks.write_s',
    'io_sinks.read': 'io_sinks.read_s',
    'io_sinks.commit': 'io_sinks.commit_s',
}
TRAINING = ('bloomdedup', 'domains', 'sampling', 'cluster', 'dedup')
SPAN_METRICS.update({f'training.{m}': f'training.{m}.s' for m in TRAINING})

PER_LAYER = [
    ('scan.s', 's'), ('scan.bytes', 'bytes'), ('scan.rows', 'rows'),
    ('udfs.extract_s', 's'), ('udfs.links', 'count'), ('udfs.links_per_doc', 'links/doc'),
    ('fetch.s', 's'), ('fetch.keys', 'count'), ('fetch.bytes', 'bytes'),
    ('fetch.ok_ratio', 'ratio'), ('fetch.reuse', 'links/key'),
    ('pipeline.local_s', 's'), ('pipeline.global_s', 's'), ('pipeline.images_s', 's'),
    ('pipeline.dup_ratio', 'ratio'), ('pipeline.images_written', 'count'),
    ('driver.plan_s', 's'),
    ('checkpoint.fresh_s', 's'), ('checkpoint.restart_s', 's'), ('checkpoint.shards_rerun', 'count'),
    ('checkpoint.rework_ratio', 'ratio'),
    ('io_sinks.write_s', 's'), ('io_sinks.read_s', 's'), ('io_sinks.commit_s', 's'),
    ('io_sinks.writes', 'count'), ('io_sinks.bytes_written', 'bytes'),
] + [(f'training.{m}.{k}', u) for m in TRAINING for k, u in (('s', 's'), ('keep_ratio', 'ratio'))] + [
    ('peak_rss_mb', 'MiB'),
    ('baseline.sequential_docs_per_s', 'docs/s'), ('host.effective_cores', 'cores'),
    ('host.loadavg1', 'load'), ('trace.overhead_ratio', 'ratio'), ('trace.residual_s', 's'),
]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until the Python workers
    it started have exited too."""
    from pyspark import SparkContext

    tree = host.descendants(os.getpid())
    try:
        spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, 'proc', None)
        if proc is not None and proc.poll() is None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 20
        while True:
            alive = [p for p in tree if _alive(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f'/proc/{pid}/stat') as f:
            return f.read().rsplit(')', 1)[1].split()[0] != 'Z'
    except OSError:
        return False


def _timed_loop(wl, spark, seconds, tracer_factory=None, sampler=None):
    """Run iterations until ``seconds`` have passed (at least one).
    Returns per-iteration records (wall, cpu, layer dict, tracer)."""
    iters = []
    t_start = time.perf_counter()
    while True:
        tracer = tracer_factory() if tracer_factory else None
        c0 = host.tree_usage(os.getpid())[0]
        if sampler:
            sampler.active(True)
        w0 = time.perf_counter()
        if tracer is not None:
            with tracer.span('iteration'):
                layer = wl.iteration(spark, tracer)
        else:
            layer = wl.iteration(spark, None)
        wall = time.perf_counter() - w0
        if sampler:
            sampler.active(False)
        cpu = host.tree_usage(os.getpid())[0] - c0
        layer.update(wl.check())
        iters.append({'wall': wall, 'cpu': cpu, 'layer': layer, 'tracer': tracer})
        if time.perf_counter() - t_start >= seconds:
            return iters


def run(args) -> int:
    cores = args.cores or host.effective_nproc()
    work = ROOT / '.perfbench_work' / f'{args.workload}-{args.seed}-{os.getpid()}'
    outdir = ROOT / '.perfbench_out'
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    outdir.mkdir(exist_ok=True)
    pinned = host.pin_env(str(ROOT), str(work), cores)

    from markdown_articles_tool_spark.session import get_spark
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, str(work))
    rec = {'workload': args.workload, 'seed': args.seed, 'seconds': args.seconds,
           'trace': args.trace, 'cores': cores, 'env': pinned}

    t = time.perf_counter()
    rec['shape'] = wl.make_inputs(n_files=cores)
    rec['gen_s'] = time.perf_counter() - t
    t = time.perf_counter()
    wl.make_oracle()
    rec['oracle_s'] = time.perf_counter() - t

    sampler = host.RssSampler()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name='perfbench')
        spark.sparkContext.setLogLevel('ERROR')
        rec['session_s'] = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare(spark)
        wl.warmup(spark)
        rec['warmup_s'] = time.perf_counter() - t
        rec['setup_s'] = rec['session_s'] + rec['warmup_s']
        t = time.perf_counter()
        wl.reference(spark)
        rec['reference_s'] = time.perf_counter() - t

        untraced = _timed_loop(wl, spark, args.seconds, sampler=sampler)
        rec['loadavg1'] = host.loadavg1()
        traced = _timed_loop(wl, spark, args.seconds / 2, tracer_factory=Tracer) if args.trace else []
    finally:
        sampler.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work dir is still there
            pass

    walls = [i['wall'] for i in untraced]
    wall = _median(walls)
    q1, q3 = _quartiles(walls)
    n_docs = wl.n_docs
    e2e = {
        'setup_s': rec['setup_s'],
        'docs_per_s': n_docs / wall,
        'wall_s': wall,
        'cpu_s_per_kdoc': _median([i['cpu'] for i in untraced]) / (n_docs / 1000),
        # a run without checkpoints restarts from scratch: its resume is a full run
        'resume_s': _median([i['layer'].get('resume_s', i['wall']) for i in untraced]),
    }
    rec['wall'] = {'median': wall, 'q1': q1, 'q3': q3, 'n': len(walls), 'samples': walls}
    rec['end_to_end'] = e2e
    rec['peak_rss_mb'] = sampler.peak / 2**20
    rec['error_rate'] = wl.gate.failed / wl.gate.attempted if wl.gate.attempted else 1.0
    rec['problems'] = wl.gate.problems
    rec['output_digests'] = wl.gate.digests

    layer = {}
    if args.trace:
        layer = _per_layer(wl, rec, untraced, traced, wall)
        rec['per_layer'] = layer
        traced[-1]['tracer'].write_jsonl(
            str(outdir / f'{args.workload}-seed{args.seed}.spans.jsonl'))

    correct = not wl.gate.problems and wl.gate.failed == 0 and wl.gate.attempted > 0
    rec['correct'] = correct
    with open(outdir / f'{args.workload}-seed{args.seed}-trace{args.trace}-cores{cores}.json', 'w') as f:
        json.dump(rec, f, indent=1, default=str)

    units = dict(END_TO_END + tuple(PER_LAYER))
    for name, value in list(e2e.items()) + list(layer.items()):
        print(f'{name:34s} {value:14.6g} {units[name]}')
    print(f'{"error_rate":34s} {rec["error_rate"]:14.6g} ratio')
    print(f'{"wall_s.q1/q3/n":34s} {q1:.4f}/{q3:.4f}/{len(walls)}')
    for p in wl.gate.problems:
        print(f'GATE: {p}', file=sys.stderr)
    metrics = layer if args.trace else e2e
    print(json.dumps({
        'correct': correct,
        'attempted': wl.gate.attempted,
        'failed': wl.gate.failed,
        'metrics': {k: {'value': v, 'unit': units[k]} for k, v in metrics.items()},
    }))
    return 0


def _per_layer(wl, rec, untraced, traced, untraced_wall):
    keys = [k for k, _u in PER_LAYER]
    samples = {k: [] for k in keys}
    for it in traced:
        vals = dict.fromkeys(keys, 0.0)
        for span, secs in it['tracer'].self_times().items():
            if span in SPAN_METRICS:
                vals[SPAN_METRICS[span]] += secs
        for k, v in it['layer'].items():
            if k in vals:
                vals[k] = float(v)
        for k in keys:
            samples[k].append(vals[k])
    out = {k: _median(v) for k, v in samples.items()}
    layer_s = sum(out[m] for m in SPAN_METRICS.values())
    traced_wall = _median([i['wall'] for i in traced])
    if wl.sequential_oracle:
        out['baseline.sequential_docs_per_s'] = wl.n_docs / rec['oracle_s']
    # not repeatable within a tenth across runs (0.25 s samples catch
    # worker-pool peaks only sometimes), so it is context, not gated
    out['peak_rss_mb'] = rec['peak_rss_mb']
    out['host.effective_cores'] = sum(i['cpu'] for i in untraced) / sum(i['wall'] for i in untraced)
    out['host.loadavg1'] = rec['loadavg1']
    out['trace.overhead_ratio'] = traced_wall / untraced_wall - 1
    out['trace.residual_s'] = untraced_wall - layer_s
    rec['traced_wall'] = {'median': traced_wall, 'n': len(traced)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True,
                    choices=['transform_resume', 'curate_chain'])
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--cores', type=int, default=0, help='local[N]; default: nproc')
    args = ap.parse_args(argv)
    if not (ROOT / 'markdown_articles_tool_spark' / '__init__.py').is_file():
        print(f'perfbench: no markdown_articles_tool_spark package under {ROOT}', file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == '__main__':
    sys.exit(main())
