"""Vectorized pandas UDFs wrapping the pure-Python semantic core.

Every row-level operation that cannot be expressed as built-in Column
algebra lives here as an Arrow-batched pandas UDF (no per-row Python
UDFs anywhere — input_hint mandate, BASELINE.json:16).  Each UDF is a
thin vectorized wrapper over ``markdown_articles_tool_spark.core``, so
the Spark pipeline and the sequential oracle share one semantic
implementation.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core import mdparse
from ..core.pathalgebra import PathConfig, get_document_img_path, get_real_path, image_local_url
from ..core.wwwtools import filename_from_url, guess_mime_type

LINK_STRUCT = StructType(
    [
        StructField('link', StringType()),
        StructField('w', IntegerType()),
        StructField('h', IntegerType()),
    ]
)

EXTRACT_SCHEMA = ArrayType(LINK_STRUCT)


@pandas_udf(EXTRACT_SCHEMA)
def extract_md_links(text: pd.Series) -> pd.Series:
    """E1-E3: CommonMark-style image extraction + size-suffix parse
    (SURVEY.md §2.2; transformers/md/transformer.py:47-83)."""
    return text.map(
        lambda t: [
            {'link': l, 'w': w, 'h': h} for l, w, h in mdparse.extract_image_links(t or '')
        ]
    )


@pandas_udf(EXTRACT_SCHEMA)
def extract_html_links(text: pd.Series) -> pd.Series:
    """E4: HTML <img src> extraction (transformers/html/transformer.py:14-31)."""
    return text.map(
        lambda t: [
            {'link': l, 'w': w, 'h': h} for l, w, h in mdparse.extract_html_image_links(t or '')
        ]
    )


@pandas_udf(StringType())
def mime_type_of(download_url: pd.Series) -> pd.Series:
    """P3 MIME gate input (frozen stdlib tables, image_downloader.py:124-131).

    Python-exact version; the pipeline hot path uses ``mime_gate_col``
    (pure Column algebra, whole-stage codegen) instead.
    """
    return download_url.map(lambda u: guess_mime_type(u) if u is not None else None)


def _mime_gate_maps():
    """Precomputed gate tables replicating stdlib guess_type resolution
    (see core.wwwtools.guess_mime_type): direct ext → pass, suffix-map
    exts (.tgz → .tar.gz …) resolved ahead of time, and encoding exts
    (.gz/.bz2/…) that defer to the previous extension."""
    from ..mime_frozen import ENCODINGS_MAP, SUFFIX_MAP, TYPES_MAP

    direct = sorted({e.lower() for e in TYPES_MAP})
    suffix_pass = sorted(
        e.lower() for e in SUFFIX_MAP if guess_mime_type('x' + SUFFIX_MAP[e]) is not None
    )
    encodings = sorted(ENCODINGS_MAP)  # case-sensitive in the stdlib
    return direct, suffix_pass, encodings


def _sql_in(expr: str, values) -> str:
    if not values:
        return 'false'
    quoted = ("'" + v.replace('\\', '\\\\').replace("'", "\\'") + "'" for v in values)
    return f"{expr} IN ({', '.join(quoted)})"


@functools.lru_cache(maxsize=1)
def _mime_gate_sql() -> str:
    """The gate as ONE SQL expression over the placeholder ``{url}``.
    Built once per process: as Column algebra the ~320 literals cost
    one py4j call each, and the bigger expression tree is re-analysed
    by every later projection of the plan."""
    direct, suffix_pass, encodings = _mime_gate_maps()
    bn2 = r"regexp_replace(substring_index(regexp_replace({url}, '^[^/:]+:', ''), '/', -1), '^\\.+', '')"
    last = f"concat('.', substring_index({bn2}, '.', -1))"
    base_wo_last = rf"regexp_extract({bn2}, '^(.*)\\.[^.]*$', 1)"
    prev = (f"CASE WHEN contains({base_wo_last}, '.') "
            f"THEN concat('.', substring_index({base_wo_last}, '.', -1)) ELSE '' END")
    return (
        "CASE WHEN startswith(lower({url}), 'data:') THEN contains({url}, ',')"
        f" WHEN NOT contains({bn2}, '.') THEN false"
        f" WHEN {_sql_in(f'lower({last})', suffix_pass)} THEN true"
        f" WHEN {_sql_in(last, encodings)} THEN {_sql_in(f'lower({prev})', direct)}"
        f" ELSE {_sql_in(f'lower({last})', direct)} END"
    )


def mime_gate_col(download_url):
    """P3 as pure Column algebra: true iff ``guess_mime_type(url)`` is
    non-null.  Exact except for multi-level compression chains beyond
    one encoding suffix (e.g. ``a.tgz.gz``), which no image URL has.

    ``download_url`` is a column name or a column reference; the gate
    is one parsed SQL expression over it (``_mime_gate_sql``).
    """
    name = download_url if isinstance(download_url, str) else download_url._jc.toString()
    return F.expr(_mime_gate_sql().replace('{url}', name))


# sentinel: the reference raises KeyError on a missing content-type
# header (www_tools.py:108) → the link becomes an 'error' row, which is
# fatal unless skip_all_errors
FILENAME_KEYERROR = '\x00\x00content-type-keyerror'


@pandas_udf(StringType())
def remote_filename_udf(
    final_url: pd.Series, content_type: pd.Series, content_disposition: pd.Series
) -> pd.Series:
    """F7: remote filename from response URL + content-type, with the
    content-disposition ``filename=`` fallback branch
    (www_tools.py:80-116).  Runs on the *fetched* side — once per
    distinct URL, not once per link occurrence."""
    out = []
    for u, ct, cd in zip(final_url, content_type, content_disposition):
        if u is None:
            out.append(None)
            continue
        try:
            out.append(filename_from_url(u, ct, cd))
        except KeyError:
            out.append(FILENAME_KEYERROR)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def local_name_udf(download_url: pd.Series) -> pd.Series:
    """S5 naming: ``Path(download_path).name``
    (image_downloader.py:277-282); only used in local-article configs."""
    from pathlib import PurePosixPath

    return download_url.map(lambda du: PurePosixPath(du).name if du is not None else None)


PATHS_STRUCT = StructType(
    [
        StructField('real_path', StringType()),
        StructField('doc_path', StringType()),
        StructField('doc_path_posix', StringType()),
    ]
)


def make_paths_udf(cfg: PathConfig):
    """F11-F13 path algebra over (link, base_url, filename[, local_url_override]).

    ``local_url_override`` carries the reference's `_fix_name_collision`
    same-content quirk (image_downloader.py:327-331): when set, the
    document path is computed with the full original URL instead of the
    link's directory.  The collision-repair path (sha256(url)_filename)
    is derived lazily inside the fold — never shipped per link.
    """

    @pandas_udf(PATHS_STRUCT)
    def paths_udf(
        link: pd.Series, base_url: pd.Series, filename: pd.Series, local_url_override: pd.Series
    ) -> pd.DataFrame:
        rows = []
        for lk, bu, fn, ov in zip(link, base_url, filename, local_url_override):
            if fn is None or lk is None:
                rows.append((None, None, None))
                continue
            local_url = ov if ov is not None else image_local_url(lk)
            real_path = get_real_path(cfg, image_local_url(lk), fn, bu or '')
            doc_path, doc_path_posix = get_document_img_path(cfg, local_url, fn)
            rows.append((real_path, doc_path, doc_path_posix))
        return pd.DataFrame(rows, columns=['real_path', 'doc_path', 'doc_path_posix'])

    return paths_udf


REC_STRUCT = StructType(
    [
        StructField('ord', IntegerType()),
        StructField('src', StringType()),
        StructField('status', StringType()),
        StructField('dedup_path', StringType()),
        StructField('doc_path', StringType()),
        StructField('doc_path_posix', StringType()),
        StructField('filename', StringType()),
    ]
)


MAPPING_STRUCT = ArrayType(
    StructType([StructField('src', StringType()), StructField('dst', StringType())])
)


def make_mapping_udf(strict_duplicate_assert: bool, skip_all_errors: bool, path_cfg: PathConfig = None):
    """A1/A5 fold ONLY: per-document insertion-ordered ``src → dst``
    replacement pairs (core.docfold.fold_mapping) from the link records.

    The document TEXT never enters this UDF — the ordered cascading
    replace itself (R1) runs JVM-side as
    ``F.aggregate(mapping, text, (acc, m) -> replace(acc, m.src, m.dst))``,
    which is byte-identical to the reference's per-line loop
    (string_tools.py:42-51) because src/dst can never contain a newline
    (srcs come from single-line extraction; dsts are path strings) and a
    mapping src can never be the empty string (an empty src yields an
    empty derived filename → `no_filename` status → no mapping entry) —
    the only two inputs where whole-text JVM replace and python's
    per-line ``str.replace`` could diverge.  Cutting the text's
    python round trip halves the Arrow traffic of the whole pipeline.

    Failure semantics enforced here (they belong to record processing):
    the duplicate-URL assert (image_downloader.py:116) and
    fail-on-error when ``skip_all_errors`` is unset
    (image_downloader.py:152-161).
    """
    from ..core import docfold

    @pandas_udf(MAPPING_STRUCT)
    def mapping_udf(recs: pd.Series) -> pd.Series:
        out = []
        for rs in recs:
            if rs is None or len(rs) == 0:
                out.append([])
                continue
            records = []
            seen_ok = set()
            for r in sorted(rs, key=lambda r: r['ord']):
                if strict_duplicate_assert and r['src'] in seen_ok:
                    raise AssertionError(f'BUG: already downloaded image "{r["src"]}"...')
                if not skip_all_errors and r['status'] == docfold.ERROR:
                    raise OSError(f'image fetch failed for "{r["src"]}" (skip_all_errors unset)')
                if r['status'] == docfold.OK:
                    seen_ok.add(r['src'])
                records.append(
                    docfold.LinkRecord(
                        ord=r['ord'],
                        src=r['src'],
                        status=r['status'],
                        dedup_path=r['dedup_path'],
                        doc_path=r['doc_path'],
                        doc_path_posix=r['doc_path_posix'],
                        filename=r['filename'],
                    )
                )
            out.append([{'src': s, 'dst': d} for s, d in docfold.fold_mapping(records, path_cfg)])
        return pd.Series(out, dtype=object)

    return mapping_udf


def make_rewrite_udf(strict_duplicate_assert: bool, skip_all_errors: bool, path_cfg: PathConfig = None):
    """R1 + A1/A5: per-document fold + ordered cascading rewrite.

    The fold itself is ``core.docfold``; this wrapper adapts the Spark
    struct rows and enforces the two failure semantics: the duplicate-
    URL assert (image_downloader.py:116) and fail-on-error when
    ``skip_all_errors`` is unset (image_downloader.py:152-161).
    """
    from ..core import docfold

    @pandas_udf(StringType())
    def rewrite_udf(text: pd.Series, recs: pd.Series) -> pd.Series:
        out = []
        for t, rs in zip(text, recs):
            if rs is None or len(rs) == 0:
                out.append(t)
                continue
            records = []
            seen_ok = set()
            for r in sorted(rs, key=lambda r: r['ord']):
                if strict_duplicate_assert and r['src'] in seen_ok:
                    raise AssertionError(f'BUG: already downloaded image "{r["src"]}"...')
                if not skip_all_errors and r['status'] == docfold.ERROR:
                    raise OSError(f'image fetch failed for "{r["src"]}" (skip_all_errors unset)')
                if r['status'] == docfold.OK:
                    seen_ok.add(r['src'])
                records.append(
                    docfold.LinkRecord(
                        ord=r['ord'],
                        src=r['src'],
                        status=r['status'],
                        dedup_path=r['dedup_path'],
                        doc_path=r['doc_path'],
                        doc_path_posix=r['doc_path_posix'],
                        filename=r['filename'],
                    )
                )
            out.append(docfold.fold_and_rewrite(t, records, path_cfg))
        return pd.Series(out, dtype=object)

    return rewrite_udf


def is_url_col(c):
    """P1: case-insensitive prefix test — http/ftp prefixes subsume
    https/ftps (www_tools.py:21-30, quirk preserved)."""
    lc = F.lower(c)
    return lc.startswith('http') | lc.startswith('ftp')


def base_url_col(url):
    """F8: everything before the last '/' (www_tools.py:119-126)."""
    return F.regexp_replace(url, r'/[^/]*$', '')
