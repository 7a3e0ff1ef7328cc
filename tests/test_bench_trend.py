"""tools/bench_trend.py reads the committed BENCH files as a round
series whose latest entry is the latest round."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_trend():
    spec = importlib.util.spec_from_file_location('bench_trend', os.path.join(ROOT, 'tools', 'bench_trend.py'))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_committed_rounds_load_in_order_with_latest_last():
    labels = [label for label, _ in _bench_trend().load_series([])]
    assert labels == [f'BENCH_r{r:02d}.json' for r in range(1, 8)]


def test_suffixed_variants_load_only_when_passed():
    extra = os.path.join(ROOT, 'BENCH_r07_control.json')
    labels = [label for label, _ in _bench_trend().load_series([extra])]
    assert labels[-2:] == ['BENCH_r07.json', 'BENCH_r07_control.json']
