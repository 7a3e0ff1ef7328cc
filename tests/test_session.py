"""The session keeps compiled code warm: generated classes survive
between jobs, and Python workers do not re-read unchanged import
archives before every task.  Its env knobs are validated when read."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from markdown_articles_tool_spark import corpus, worker_daemon
from markdown_articles_tool_spark.checkpoint import run_with_resume
from markdown_articles_tool_spark.core.linkflow import TransformConfig
from markdown_articles_tool_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason='zipimporter invalidation is lazy from Python 3.13 on')


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_run_compiles_no_new_classes(spark, tmp_path):
    # one run's plans need ~120 generated classes, more than Spark's
    # default cache of 100: with it, the second run recompiles
    docs = spark.createDataFrame(corpus.docs_list(12), 'url string, text string')
    cfg = TransformConfig(skip_all_errors=True)
    run_with_resume(spark, docs, cfg, str(tmp_path / 'a'), n_shards=4)
    before = _compiles(spark)
    run_with_resume(spark, docs, cfg, str(tmp_path / 'b'), n_shards=4)
    assert _compiles(spark) - before == 0


@eager_zip_invalidation
def test_workers_skip_rereading_unchanged_archives(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({'reads': [len(reads)], 'importers': [importers]})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, 'reads long, importers long').collect()
    assert len(rows) == 2
    # the workers import pyspark from zip archives, and re-read none of them
    assert all(r['importers'] > 0 and r['reads'] == 0 for r in rows)


def _write_zip(path, modules):
    tmp = f'{path}.tmp'
    with zipfile.ZipFile(tmp, 'w') as z:
        for name in modules:
            z.writestr(f'{name}.py', f'NAME = {name!r}\n')
    os.replace(tmp, path)


@eager_zip_invalidation
def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / 'mods.zip')
    _write_zip(archive, ['graft_zip_a'])
    monkeypatch.setattr(zipimport.zipimporter, 'invalidate_caches', zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(worker_daemon, '_read_stamps', {})
    worker_daemon.install()
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, '_read_directory', lambda path: reads.append(path) or read_directory(path))
    try:
        assert importlib.import_module('graft_zip_a').NAME == 'graft_zip_a'
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, ['graft_zip_a', 'graft_zip_b'])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module('graft_zip_b').NAME == 'graft_zip_b'
    finally:
        sys.modules.pop('graft_zip_a', None)
        sys.modules.pop('graft_zip_b', None)


@pytest.fixture()
def builder_options(monkeypatch):
    """``get_spark`` returns the options it would build a session from."""
    monkeypatch.setattr(SparkSession.Builder, 'getOrCreate', lambda self: dict(self._options))
    monkeypatch.delenv('SPARK_GRAFT_MASTER', raising=False)
    monkeypatch.delenv('SPARK_GRAFT_CPUS', raising=False)
    monkeypatch.delenv('SPARK_GRAFT_SHUFFLE_PARTITIONS', raising=False)


def test_only_local_masters_use_the_worker_daemon(builder_options):
    local = get_spark(master='local[2]')
    assert local['spark.python.daemon.module'] == 'markdown_articles_tool_spark.worker_daemon'
    assert local['spark.executorEnv.PYTHONPATH'] == ROOT
    for master in ('spark://host:7077', 'yarn', 'k8s://https://host:6443'):
        opts = get_spark(master=master)
        assert 'spark.python.daemon.module' not in opts
        assert 'spark.executorEnv.PYTHONPATH' not in opts


def test_workers_import_the_daemon_from_any_working_directory(tmp_path):
    # a driver started outside the repo: the workers still find the package
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from markdown_articles_tool_spark.session import get_spark

        spark = get_spark(master='local[1]', shuffle_partitions=1)
        print(spark.range(3).mapInPandas(lambda it: it, 'id long').count())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != 'PYTHONPATH'}
    out = subprocess.run([sys.executable, '-c', script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ['3']


@pytest.mark.parametrize('knob', ['SPARK_GRAFT_CPUS', 'SPARK_GRAFT_SHUFFLE_PARTITIONS'])
@pytest.mark.parametrize('value', ['0', '-2', 'four', '2.5', ''])
def test_session_knobs_are_validated(builder_options, monkeypatch, knob, value):
    monkeypatch.setenv(knob, value)
    with pytest.raises(ValueError, match=knob):
        get_spark()


def test_star_cpus_uses_every_core(builder_options, monkeypatch):
    monkeypatch.setenv('SPARK_GRAFT_CPUS', '*')
    assert get_spark()['spark.master'] == 'local[*]'
    monkeypatch.setenv('SPARK_GRAFT_SHUFFLE_PARTITIONS', '*')
    with pytest.raises(ValueError, match='SPARK_GRAFT_SHUFFLE_PARTITIONS'):
        get_spark()
