"""URL scalar functions (SURVEY.md §2.3 F11-F12, generalized per the north
rule: canonical_url → xxhash64 keys the URL-seen dedup).

The canonicalizer generalizes the reference's ad-hoc id extraction
(/root/reference/app/scrapers/sunfar.py:55-64 — ``url.split('id=')[1]``) into
a full, idempotent canonical form:

    1. strip fragment
    2. lowercase scheme and host
    3. strip default ports (:80 http, :443 https) and trailing host dots
    4. collapse duplicate slashes in path; '' → '/'; strip trailing slash
    5. drop tracking params (utm_*, fbclid, gclid, ref) and empty params
    6. sort remaining query params bytewise

The engine has one implementation: pyarrow compute kernels
(:func:`_canon_batch_pa`) behind a native ``arrow_udf``
(:func:`canonicalize_with_host_arrow`), used by seeds, wave children,
``CrawlRun.invalidate()`` and the ``url_canonicalize`` oracle query. Why not
a codegen Column chain: its ~15 regexp_replace/regexp_extract steps each
materialize a new UTF8String in the JVM heap (19M URLs × 15 passes = GC and
memory-bus pressure that capped single-box N→4N scaling). The kernel ships
each batch to a Python worker ONCE over Arrow and runs every step over
contiguous buffers, outside the shared JVM heap. On the 19.2M-URL frontier
job it took half the chain's wall time at both 8 and 32 cores (826k vs 407k
URLs/s at 8 cores; BASELINE.md round 3).

Two mirrors outside the engine check it: the DuckDB CTE below (the
``url_canonicalize`` oracle and a Spark-free parity test) and
``tests/oracle_crawler.canonicalize_py`` (the crawl oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TRACKING_PARAM_PATTERN = r"^(utm_[^=]*|fbclid|gclid|ref)="


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _canon_batch_pa(arr):
    """Vectorized (canonical_url, host) over a ``pyarrow`` string array —
    every step is a C++ compute kernel over contiguous buffers, so per-URL
    Python object churn is zero. Step numbers are the module docstring's;
    parity with :data:`DUCKDB_CANONICAL_CTE` is pytest-gated without Spark.
    The only numpy round-trip is the per-batch list-offset rebuild for the
    query-param sort (arrow has no per-list sort kernel), which is O(rows),
    not O(bytes).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    # spaces ONLY — the DuckDB mirror's trim() strips ' ' alone, so
    # tab/newline padding must survive here too (ADVICE r3)
    u = pc.utf8_trim(arr, " ")
    u = pc.replace_substring_regex(u, pattern=r"#.*$", replacement="")
    sm = pc.extract_regex(u, r"^(?P<s>[A-Za-z][A-Za-z0-9+.\-]*)://")
    scheme = pc.utf8_lower(
        pc.if_else(pc.is_valid(sm), pc.struct_field(sm, "s"), "")
    )
    rest = pc.replace_substring_regex(
        u, pattern=r"^[A-Za-z][A-Za-z0-9+.\-]*://", replacement=""
    )
    hostport = pc.utf8_lower(
        pc.struct_field(pc.extract_regex(rest, r"^(?P<h>[^/?#]*)"), "h")
    )
    tail = pc.replace_substring_regex(rest, pattern=r"^[^/?#]*", replacement="")
    path = pc.struct_field(pc.extract_regex(tail, r"^(?P<p>[^?#]*)"), "p")
    qm = pc.extract_regex(tail, r"\?(?P<q>[^#]*)")
    qs = pc.if_else(pc.is_valid(qm), pc.struct_field(qm, "q"), "")

    host = pc.replace_substring_regex(
        hostport, pattern=r"\.+(:\d*)?$", replacement=r"\1"
    )
    host = pc.if_else(
        pc.equal(scheme, "http"),
        pc.replace_substring_regex(host, pattern=r":80$", replacement=""),
        host,
    )
    host = pc.if_else(
        pc.equal(scheme, "https"),
        pc.replace_substring_regex(host, pattern=r":443$", replacement=""),
        host,
    )

    path = pc.replace_substring_regex(path, pattern=r"/{2,}", replacement="/")
    path = pc.if_else(pc.equal(path, ""), "/", path)
    path = pc.if_else(
        pc.equal(path, "/"),
        path,
        pc.replace_substring_regex(path, pattern=r"/$", replacement=""),
    )

    # query params: split → flatten → drop tracking/empty → one stable
    # multi-key sort over (row, param) → rebuild offsets → binary_join
    parts = pc.split_pattern(qs, "&")
    flat = pc.list_flatten(parts)
    parent = pc.list_parent_indices(parts)
    keep = pc.and_(
        pc.not_equal(flat, ""),
        pc.invert(pc.match_substring_regex(flat, TRACKING_PARAM_PATTERN)),
    )
    flat_k = pc.filter(flat, keep)
    parent_k = pc.filter(parent, keep)
    order = pc.sort_indices(
        pa.table({"p": parent_k, "v": flat_k}),
        sort_keys=[("p", "ascending"), ("v", "ascending")],
    )
    vk = pc.take(flat_k, order)
    if isinstance(vk, pa.ChunkedArray):
        vk = vk.combine_chunks()
    counts = np.bincount(np.asarray(parent_k), minlength=len(arr))
    offsets = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    qsn = pc.binary_join(
        pa.LargeListArray.from_arrays(pa.array(offsets, type=pa.int64()), vk), "&"
    )

    canonical = pc.binary_join_element_wise(
        scheme,
        "://",
        host,
        path,
        pc.if_else(
            pc.equal(qsn, ""), "", pc.binary_join_element_wise("?", qsn, "")
        ),
        "",
    )
    bare_host = pc.replace_substring_regex(host, pattern=r":\d+$", replacement="")
    return canonical, bare_host


def canonicalize_with_host_arrow(col: Column | str) -> Column:
    """(canonical_url, host) struct of ``col``: the engine's canonicalizer.

    A native ``arrow_udf`` (PySpark ≥ 4.1: pyarrow arrays in and out, no
    pandas object round-trip) over the kernel pipeline in
    :func:`_canon_batch_pa`. ``host`` is the canonical host without its
    port. Declared lazily so importing this module never forces a pyarrow
    import on executors that don't use it.
    """
    # explicit ArrowUDFType.SCALAR: this module uses
    # `from __future__ import annotations`, which turns type hints into
    # strings that arrow_udf's hint inference can't resolve
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    @arrow_udf("canonical_url string, host string", ArrowUDFType.SCALAR)
    def _canon_udf(urls):
        import pyarrow as pa

        canonical, bare_host = _canon_batch_pa(urls)
        return pa.StructArray.from_arrays(
            [canonical, bare_host], names=["canonical_url", "host"]
        )

    return _canon_udf(_col(col))


DUCKDB_CANONICAL_CTE = r"""
canon_base AS (
    SELECT *, regexp_replace(trim({url_expr}), '#.*$', '') AS _u
    FROM {source}
),
canon_split AS (
    SELECT *,
        lower(regexp_extract(_u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS _scheme,
        regexp_replace(_u, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS _rest
    FROM canon_base
),
canon_parts AS (
    SELECT *,
        lower(regexp_extract(_rest, '^([^/?#]*)', 1)) AS _hostport,
        regexp_replace(_rest, '^[^/?#]*', '') AS _tail
    FROM canon_split
),
canon_pieces AS (
    SELECT *,
        regexp_extract(_tail, '^([^?#]*)', 1) AS _path0,
        regexp_extract(_tail, '\?([^#]*)', 1) AS _qs,
        CASE
            WHEN _scheme = 'http'  THEN regexp_replace(regexp_replace(_hostport, '\.+(:\d*)?$', '\1'), ':80$', '')
            WHEN _scheme = 'https' THEN regexp_replace(regexp_replace(_hostport, '\.+(:\d*)?$', '\1'), ':443$', '')
            ELSE regexp_replace(_hostport, '\.+(:\d*)?$', '\1')
        END AS _host
    FROM canon_parts
),
canon_norm AS (
    SELECT *,
        CASE WHEN _p1 = '' THEN '/'
             WHEN _p1 <> '/' THEN regexp_replace(_p1, '/$', '')
             ELSE _p1 END AS _path
    FROM (SELECT *, regexp_replace(_path0, '/{{2,}}', '/', 'g') AS _p1 FROM canon_pieces)
),
canon AS (
    SELECT *,
        _scheme || '://' || _host || _path ||
        CASE WHEN _qsn = '' THEN '' ELSE '?' || _qsn END AS canonical_url
    FROM (
        SELECT *, coalesce(array_to_string(list_sort(list_filter(string_split(_qs, '&'),
            p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&'), '') AS _qsn
        FROM canon_norm
    )
)
"""


def duckdb_canonical_cte(source: str, url_expr: str) -> str:
    """DuckDB CTE chain mirroring :func:`_canon_batch_pa` step-for-step.

    Usage: ``f"WITH {duckdb_canonical_cte('frontier_view','url')} SELECT
    canonical_url ... FROM canon"``. Keeping the mirror next to the Spark
    implementation makes drift visible in review. Note DuckDB's
    ``regexp_replace`` needs the explicit 'g' flag where pyarrow replaces
    globally (only the slash-collapse step is non-anchored here), and its
    ``array_to_string`` of an empty list is NULL, hence the ``coalesce``
    on ``_qsn``. Trailing host dots use a capture group, not a lookahead,
    in both implementations: DuckDB's RE2 silently ignores ``(?=...)``.
    """
    return DUCKDB_CANONICAL_CTE.format(source=source, url_expr=url_expr)


def url_hash(col: Column | str) -> Column:
    """xxhash64 of the canonical URL — the frontier/seen key (north rule)."""
    return F.xxhash64(_col(col))


def url_hash_relation(spark: SparkSession, urls: list[str]) -> DataFrame:
    """``url_hash`` of each distinct canonical form of a driver-side URL
    list, as a frame that plans as a JVM ``LocalRelation``: the engine's
    kernel (:func:`_canon_batch_pa`) canonicalizes the list on the driver
    and the JVM's xxhash64 hashes it, so building the frame runs no Spark
    job and no Python worker."""
    import pandas as pd
    import pyarrow as pa

    canonical, _host = _canon_batch_pa(pa.array(urls, pa.string()))
    frame = pd.DataFrame({"canonical_url": canonical.to_pandas()}).drop_duplicates()
    return spark.createDataFrame(frame, "canonical_url string").select(
        url_hash("canonical_url").alias("url_hash")
    )


def url_host(col: Column | str) -> Column:
    c = _col(col)
    return F.lower(
        F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#:]*)", 1)
    )


def absolutize(url: Column | str, base: Column | str) -> Column:
    """F11 — relative href/src → absolute (reference: prefix join, e.g.
    /root/reference/app/scrapers/pchome.py:117-123)."""
    u, b = _col(url), _col(base)
    return (
        F.when(u.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"), u)
        .when(u.startswith("//"), F.concat(F.lit("https:"), u))
        .when(u.startswith("/"), F.concat(F.regexp_replace(b, r"(://[^/]+).*$", r"$1"), u))
        .otherwise(F.concat(F.regexp_replace(b, r"/[^/]*$", "/"), u))
    )


def extract_url_id(col: Column | str) -> Column:
    """F12 — sunfar.py:55-64 ``id=`` param extraction."""
    return F.regexp_extract(_col(col), r"id=([^&]+)", 1)
