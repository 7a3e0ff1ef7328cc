"""Run-scoped configuration helpers (S3 skip-list source, F10 template
substitution, S9 output-path naming).

These are driver-side, run-once concerns in the reference
(article_processor.py:66-99, 151-163; article_downloader.py:73-91) —
they stay driver-side here too and feed plain strings into the plan.
"""

from __future__ import annotations

import os
from pathlib import PurePosixPath
from string import Template
from typing import Dict, List, Optional, Union

from .core.wwwtools import remove_protocol_prefix


def parse_skip_list(skip_list: Union[str, List[str], None]) -> frozenset:
    """Comma list, ``@file`` indirection, or an explicit list
    (article_processor.py:151-163)."""
    if skip_list is None:
        return frozenset()
    if isinstance(skip_list, str):
        if not skip_list:
            return frozenset()
        if skip_list.startswith('@'):
            with open(skip_list[1:], encoding='utf8') as f:
                return frozenset(s.strip() for s in f.readlines())
        return frozenset(s.strip() for s in skip_list.split(','))
    return frozenset(skip_list)


def env_int(name: str, default: int, minimum: int = 1) -> int:
    """Integer env knob, validated when read: unset → ``default``;
    anything that is not an integer ``>= minimum`` is an error naming
    the variable, not a silent fallback or a zero-width loop."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        raise ValueError(f'{name}={raw!r}: expected an integer >= {minimum}') from None
    if value < minimum:
        raise ValueError(f'{name}={raw!r}: expected an integer >= {minimum}')
    return value


def resolve_templates(
    images_dirname: str,
    images_public_path: Optional[str],
    article_name: str,
    article_base_url: str,
    run_time: str,
    run_date: str,
) -> Dict[str, Optional[str]]:
    """``$article_name,$time,$date,$dt,$base_url`` substitution
    (article_processor.py:74-86).  The reference reads the wall clock;
    for deterministic, resumable cluster runs the timestamp MUST be a
    pinned job parameter — pass ``run_time``/``run_date`` explicitly
    (format '%H%M%S' / '%Y%m%d')."""
    variables = {
        'article_name': article_name,
        'time': run_time,
        'date': run_date,
        'dt': f'{run_date}_{run_time}',
        'base_url': remove_protocol_prefix(article_base_url),
    }
    dirname = Template(images_dirname).safe_substitute(**variables)
    public = Template(images_public_path).safe_substitute(**variables) if images_public_path else ''
    return {'img_dir_name': dirname, 'img_public_path': public or None}


def article_out_path(
    out_dir: str, article_stem: str, out_format: str, exists: bool = False, run_dt: str = ''
) -> str:
    """S9 output naming (article_downloader.py:73-91): ``<stem>.<fmt>``,
    or timestamped ``<stem>_%Y%m%d_%H%M%S.<fmt>`` when writing over the
    source file; the timestamp is a pinned job param here."""
    stem = article_stem if not exists else f'{article_stem}_{run_dt}'
    return str(PurePosixPath(out_dir) / f'{stem}.{out_format}')
