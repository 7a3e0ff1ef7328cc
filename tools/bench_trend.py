#!/usr/bin/env python
"""Per-query bench trend across rounds: prints r1→rN deltas so plan
regressions surface at commit time, not judge time.

    python tools/bench_trend.py              # BENCH_rNN.json series
    python tools/bench_trend.py extra.json   # ...plus ad-hoc runs

The series is the plain ``BENCH_rNN.json`` files in round order;
suffixed variants of a round (``BENCH_r07_control.json``) are not
rounds and are left out unless passed as extra files.

A cell shows seconds; the last column flags the latest-vs-previous
delta (▲ >25% slower, ▼ >25% faster).  Also compares docs_per_sec.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys


def load_series(extra: list) -> list:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = {}
    for p in glob.glob(os.path.join(root, 'BENCH_r*.json')):
        m = re.fullmatch(r'BENCH_r(\d+)\.json', os.path.basename(p))
        if m:
            rounds[int(m.group(1))] = p
    paths = [rounds[r] for r in sorted(rounds)] + extra
    series = []
    for p in paths:
        with open(p) as f:
            data = json.load(f)
        # the driver wraps bench.py's JSON line under 'parsed'
        if 'queries' not in data and isinstance(data.get('parsed'), dict):
            data = data['parsed']
        series.append((os.path.basename(p), data))
    return series


def main() -> None:
    series = load_series(sys.argv[1:])
    if not series:
        print('no BENCH_r*.json found')
        return
    names = []
    for _label, data in series:
        for q in list(data.get('queries', {})) + list(data.get('oracle_path_queries', {})):
            if q not in names:
                names.append(q)
    labels = [label.replace('BENCH_', '').replace('.json', '') for label, _ in series]
    w = max(len(n) for n in names) + 2
    print('query'.ljust(w) + ''.join(lbl.rjust(10) for lbl in labels) + '   trend')
    for q in names:
        cells, vals = [], []
        for _label, data in series:
            v = data.get('queries', {}).get(q, data.get('oracle_path_queries', {}).get(q))
            vals.append(v)
            cells.append(('-' if v is None else f'{v:.2f}').rjust(10))
        flag = ''
        present = [v for v in vals if v is not None]
        if len(present) >= 2 and vals[-1] is not None:
            prev = present[-2]
            if prev > 0:
                ratio = vals[-1] / prev
                if ratio > 1.25:
                    flag = f'▲ {ratio:.1f}x slower'
                elif ratio < 0.8:
                    flag = f'▼ {1 / ratio:.1f}x faster'
        print(q.ljust(w) + ''.join(cells) + ('   ' + flag if flag else ''))
    print()
    dps = [(label, d.get('docs_per_sec')) for label, d in series]
    print('docs_per_sec: ' + '  '.join(
        f"{label.replace('BENCH_', '').replace('.json', '')}={v}" for label, v in dps if v
    ))
    totals = [(label, d.get('value')) for label, d in series]
    print('headline total sec: ' + '  '.join(
        f"{label.replace('BENCH_', '').replace('.json', '')}={v}" for label, v in totals if v
    ))


if __name__ == '__main__':
    main()
