"""Pinned environment and process-tree accounting read from ``/proc``."""

from __future__ import annotations

import os
import sys
import threading
import time
from typing import Dict, Tuple

_CLK = os.sysconf('SC_CLK_TCK')
_PAGE = os.sysconf('SC_PAGE_SIZE')


def effective_nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    with open('/proc/meminfo') as f:
        for line in f:
            if line.startswith('MemTotal:'):
                return int(line.split()[1]) // 1024
    raise RuntimeError('MemTotal missing from /proc/meminfo')


def loadavg1() -> float:
    with open('/proc/loadavg') as f:
        return float(f.read().split()[0])


def pin_env(root: str, work: str, cores: int) -> Dict[str, str]:
    """Set every knob the measured code reads, before Spark starts.

    Inherited ``SPARK_GRAFT_*`` variables that the benchmark does not
    pin are removed, so nothing in the caller's environment changes
    what is measured.  Returns the pinned values for the record.
    """
    tmp = os.path.join(work, 'tmp')
    local = os.path.join(work, 'spark-local')
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # driver heap: a quarter of the box, at most 2 GiB (inputs are tens of MB)
    driver_mib = min(2048, mem_total_mib() // 4)
    knobs = {
        'SPARK_GRAFT_CPUS': str(cores),
        'SPARK_GRAFT_MASTER': f'local[{cores}]',
        'SPARK_GRAFT_SHUFFLE_PARTITIONS': str(max(cores, 8)),
        'SPARK_GRAFT_AQE': '1',
        'SPARK_GRAFT_AQE_ADVISORY': '64m',
        'SPARK_GRAFT_ARROW_BATCH': '20000',
        'SPARK_GRAFT_CACHE_COMPRESS': 'false',
        'SPARK_GRAFT_DRIVER_MEM': f'{driver_mib}m',
        'SPARK_GRAFT_JAVA_OPTS': '-XX:+UseParallelGC',
        'SPARK_GRAFT_NO_LINKMETA_PERSIST': '0',
        'SPARK_GRAFT_SHARD_WORKERS': str(min(4, cores)),
        'SPARK_GRAFT_CC_LOCAL_EDGES': '100000',
        'SPARK_GRAFT_CC_LOCAL_NODES': '500000',
    }
    dropped = sorted(k for k in os.environ if k.startswith('SPARK_GRAFT_') and k not in knobs)
    for k in dropped:
        del os.environ[k]
    os.environ.update(knobs)
    prev = os.environ.get('PYTHONPATH')
    os.environ['PYTHONPATH'] = root + (os.pathsep + prev if prev else '')
    os.environ['PYSPARK_PYTHON'] = sys.executable
    os.environ['PYSPARK_DRIVER_PYTHON'] = sys.executable
    os.environ['SPARK_LOCAL_DIRS'] = local
    os.environ['TMPDIR'] = tmp
    # every JVM (the launcher too) keeps its temp files in the work dir
    # and writes no hsperfdata file under /tmp
    os.environ['JAVA_TOOL_OPTIONS'] = f'-XX:-UsePerfData -Djava.io.tmpdir={tmp}'
    pinned = dict(knobs)
    pinned.update(PYTHONPATH=os.environ['PYTHONPATH'], SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
                  JAVA_TOOL_OPTIONS=os.environ['JAVA_TOOL_OPTIONS'])
    if dropped:
        pinned['dropped_inherited'] = ','.join(dropped)
    return pinned


def _proc_table() -> Dict[int, Tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir('/proc'):
        if not name.isdigit():
            continue
        try:
            with open(f'/proc/{name}/stat') as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]), int(fields[21]))
    return out


def descendants(root: int) -> list:
    """Live pids below ``root`` (``root`` excluded)."""
    table = _proc_table()
    kids: Dict[int, list] = {}
    for pid, (ppid, _cpu, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def tree_usage(root: int) -> Tuple[float, int]:
    """(CPU seconds, RSS bytes) of ``root`` and every live descendant:
    the benchmark driver, the JVM and its Python workers."""
    table = _proc_table()
    kids: Dict[int, list] = {}
    for pid, (ppid, _cpu, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    cpu = rss = 0
    stack = [root]
    while stack:
        p = stack.pop()
        if p in table:
            cpu += table[p][1]
            rss += table[p][2]
        stack.extend(kids.get(p, ()))
    return cpu / _CLK, rss * _PAGE


class RssSampler:
    """Background sampler of the process tree's peak RSS while active."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name='rss-sampler', daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self._active.wait(self.interval) and not self._stop.is_set():
                self.peak = max(self.peak, tree_usage(me)[1])
                time.sleep(self.interval)

    def active(self, on: bool) -> None:
        if on:
            self._active.set()
        else:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)
