"""Driver-contract query registry: one entry per implemented operator
family from SURVEY.md §2 plus the training-data pipeline layer, each as a
(spark_builder, duckdb_oracle_sql) pair over the driver's testdata tables
(region nation customer supplier part orders lineitem events documents
embeddings).

The reference operators act on crawled product pages; the driver's tables
are TPC-H-ish, so each query *synthesizes* the operator's input column from
testdata deterministically (identical expression on both engines) and then
applies the real library operator. That makes every check meaningful: the
library expression and its hand-written ANSI mirror must agree bit-for-bit
on 60k-row inputs, not on toy literals.

Column-name discipline: every computed column is aliased identically in the
Spark builder and the oracle SQL (the driver sorts columns by name before
value-hashing).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from price_crawler_spark.functions import names, prices, text, urls
from price_crawler_spark.operators import predicates
from price_crawler_spark.operators.matcher import similarity_col
from price_crawler_spark.pipeline import ann, dedup, multimodal

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def duckdb_contains_any(expr: str, keywords: list[str], lowercase: bool = True) -> str:
    """Mirror of predicates._contains_any: OR-chain of contains()."""
    target = f"lower({expr})" if lowercase else expr
    kws = [k.lower() if lowercase else k for k in keywords]
    terms = " OR ".join(
        "contains({t}, '{k}')".format(t=target, k=k.replace("'", "''")) for k in kws
    )
    return f"({terms})"


# Synthesized big price: floor(p_retailprice)*53 + p_partkey (≈ 47k-53k, so
# the comma formatting in the price text is non-trivial).
_BIG_SPARK = None  # built inline below
_BIG_SQL = "(CAST(floor(p_retailprice) AS BIGINT) * 53 + p_partkey)"


def _big_col() -> F.Column:
    return (
        F.floor(F.col("p_retailprice")).cast("long") * 53 + F.col("p_partkey")
    )


def _price_text_col() -> F.Column:
    big = _big_col()
    return F.concat(
        F.lit("NT$ "),
        F.floor(big / 1000).cast("long").cast("string"),
        F.lit(","),
        F.lpad((big % 1000).cast("string"), 3, "0"),
        F.when(F.col("p_partkey") % 2 == 0, F.lit("元")).otherwise(F.lit("")),
    )


_PRICE_TEXT_SQL = (
    "('NT$ ' || CAST({big} // 1000 AS VARCHAR) || ',' "
    "|| lpad(CAST({big} % 1000 AS VARCHAR), 3, '0') "
    "|| (CASE WHEN p_partkey % 2 = 0 THEN '元' ELSE '' END))"
).format(big=_BIG_SQL)


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# per-process crawl-demo store dirs, keyed by query tuple (see
# q_crawl_search_demo for the lifecycle rationale); removed at interpreter
# exit so repeated driver processes don't leak one /tmp dir each (ADVICE r2)
_DEMO_RUN_DIRS: dict[tuple, str] = {}


def _cleanup_demo_dirs() -> None:
    import shutil

    for d in _DEMO_RUN_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _DEMO_RUN_DIRS.clear()


import atexit  # noqa: E402

atexit.register(_cleanup_demo_dirs)


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---- scalar functions: prices (F1-F4) --------------------------------------

@_register(
    "price_extract",
    f"""SELECT p_partkey,
       CAST(regexp_extract(regexp_replace({_PRICE_TEXT_SQL}, '[NT$￥元,，\\s]', '', 'g'),
                           '(\\d+(?:\\.\\d+)?)', 1) AS DOUBLE) AS price
FROM part""",
)
def q_price_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (price_formatter.py:7-25): strip currency glyphs, first number."""
    part = _read(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        prices.extract_price(_price_text_col()).alias("price"),
    )


@_register(
    "price_strict_filter",
    f"""WITH px AS (
  SELECT p_partkey,
         CAST(regexp_extract(regexp_replace({_PRICE_TEXT_SQL}, '[NT$￥元,，\\s]', '', 'g'),
                             '(\\d+(?:\\.\\d+)?)', 1) AS DOUBLE) AS p
  FROM part)
SELECT p_partkey, p AS price FROM px WHERE p > 45000""",
)
def q_price_strict_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (autobuy.py:115-141): price sanity floor filter."""
    part = _read(spark, sf_dir, "part")
    out = part.select(
        "p_partkey",
        prices.extract_price_strict(_price_text_col(), floor=45000.0).alias("price"),
    )
    return out.filter(F.col("price").isNotNull())


@_register(
    "price_format",
    f"""SELECT p_partkey,
       'NT$ ' || format('{{:,}}', {_BIG_SQL}) AS display
FROM part""",
)
def q_price_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (price_formatter.py:27-33): NT$ {:,.0f} display format. Integer
    input on both sides — format_number rounds HALF_EVEN where DuckDB's
    round() is HALF_UP, so a fractional input would drift on exact .5s."""
    part = _read(spark, sf_dir, "part")
    return part.select(
        "p_partkey", prices.format_price(_big_col()).alias("display")
    )


# ---- scalar functions: names (F5-F9) ---------------------------------------

@_register(
    "name_clean",
    """SELECT p_partkey,
       trim(regexp_replace(regexp_replace(regexp_replace(
            trim(regexp_replace('[促銷] ' || p_name || ' (贈品)  【限時】', '\\s+', ' ', 'g')),
            '\\[.*?\\]', '', 'g'), '\\(.*?\\)', '', 'g'), '【.*?】', '', 'g')) AS name
FROM part""",
)
def q_name_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (base_scraper.py:118-136): bracket stripping + space collapse."""
    part = _read(spark, sf_dir, "part")
    raw = F.concat(F.lit("[促銷] "), F.col("p_name"), F.lit(" (贈品)  【限時】"))
    return part.select("p_partkey", names.clean_product_name(raw).alias("name"))


@_register(
    "name_normalize",
    """SELECT p_partkey,
       replace(replace(replace(trim(regexp_replace('GeForce  ' || p_name || ' Intel Core', '\\s+', ' ', 'g')),
               'GeForce', 'GTX'), 'Intel Core', 'Intel'), 'AMD Ryzen', 'AMD') AS name
FROM part""",
)
def q_name_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (price_formatter.py:40-60): abbreviation unification."""
    part = _read(spark, sf_dir, "part")
    raw = F.concat(F.lit("GeForce  "), F.col("p_name"), F.lit(" Intel Core"))
    return part.select("p_partkey", names.normalize_product_name(raw).alias("name"))


@_register(
    "search_term_normalize",
    """SELECT p_partkey,
       trim(regexp_replace(regexp_replace(lower(upper(p_name) || ' - 限時9070XT!!'),
            '[^0-9a-z_\\s\\-一-鿿]', ' ', 'g'), '\\s+', ' ', 'g')) AS term
FROM part""",
)
def q_search_term_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (product_matcher.py:33-44). The DuckDB mirror spells out the
    unicode word class (RE2 has no (?U) and its \\w is ASCII-only)."""
    part = _read(spark, sf_dir, "part")
    raw = F.concat(F.upper(F.col("p_name")), F.lit(" - 限時9070XT!!"))
    return part.select("p_partkey", names.normalize_search_term(raw).alias("term"))


_MOMO_RAW_SQL = """(CASE p_partkey % 3
  WHEN 0 THEN '【限定】' || p_name || ' ★熱賣★ 限時特價中'
  WHEN 1 THEN '[組合]  ' || p_name || ' ☆新品☆ 加量不加價'
  ELSE p_name || ' ★ 限時特價 $999' END)"""


def _momo_clean_sql(expr: str) -> str:
    """DuckDB mirror of names.momo_clean_name (momo.py:255-268), exact
    operation order: collapse → paired-delimiter removals → tail → strip."""
    return f"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(
            trim({expr}), '\\s+', ' ', 'g'),
            '【.*?】', '', 'g'), '\\[.*?\\]', '', 'g'),
            '★.*?★', '', 'g'), '☆.*?☆', '', 'g'),
            '限時特價.*$', '', 'g'))"""


@_register(
    "name_clean_momo",
    f"""SELECT p_partkey, {_momo_clean_sql(_MOMO_RAW_SQL)} AS name
FROM part""",
)
def q_name_clean_momo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (momo.py:255-268): paired 【】[]★★☆☆ segments removed WITH content,
    lone ★ kept, trailing 限時特價… dropped — exact reference operation
    order (collapse → pair removals → tail → strip)."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    raw = (
        F.when(pk % 3 == 0,
               F.concat(F.lit("【限定】"), F.col("p_name"), F.lit(" ★熱賣★ 限時特價中")))
        .when(pk % 3 == 1,
              F.concat(F.lit("[組合]  "), F.col("p_name"), F.lit(" ☆新品☆ 加量不加價")))
        .otherwise(F.concat(F.col("p_name"), F.lit(" ★ 限時特價 $999")))
    )
    return part.select("p_partkey", names.momo_clean_name(raw).alias("name"))


_FEAT_NAME_SQL = (
    "('GIGABYTE RTX ' || CAST(4060 + p_partkey % 40 AS VARCHAR) || ' Ti "
    "' || CAST(8 + p_partkey % 25 AS VARCHAR) || 'GB ' || p_name "
    "|| ' ' || CAST(1800 + p_partkey % 900 AS VARCHAR) || 'MHz')"
)


@_register(
    "feature_extract",
    f"""WITH nm AS (SELECT p_partkey, {_FEAT_NAME_SQL} AS name FROM part)
SELECT p_partkey,
       regexp_extract(lower(name), '(\\d+)gb', 1) AS mem_gb,
       regexp_extract(lower(name), '(\\d+)mhz', 1) AS clock_mhz,
       regexp_extract(lower(name), '(rtx|gtx|rx|i\\d|ryzen)\\s*\\d+[a-z]*', 0) AS model
FROM nm""",
)
def q_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 (product_matcher.py:46-80): spec/model regex features."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    name = F.concat(
        F.lit("GIGABYTE RTX "), (4060 + pk % 40).cast("string"),
        F.lit(" Ti "), (8 + pk % 25).cast("string"), F.lit("GB "),
        F.col("p_name"), F.lit(" "), (1800 + pk % 900).cast("string"),
        F.lit("MHz"),
    )
    low = F.lower(name)
    return part.select(
        "p_partkey",
        F.regexp_extract(low, r"(\d+)gb", 1).alias("mem_gb"),
        F.regexp_extract(low, r"(\d+)mhz", 1).alias("clock_mhz"),
        F.regexp_extract(low, r"(rtx|gtx|rx|i\d|ryzen)\s*\d+[a-z]*", 0).alias("model"),
    )


_DT_NAME_SQL = """(p_name || CASE p_partkey % 5
  WHEN 0 THEN ' (已售完 請勿下單)' WHEN 1 THEN ' 停產'
  WHEN 2 THEN ' （缺貨）' ELSE '' END)"""


@_register(
    "dtsource_stock",
    f"""WITH nm AS (SELECT p_partkey, {_DT_NAME_SQL} AS name FROM part)
SELECT p_partkey, name,
       (NOT ({duckdb_contains_any("name", predicates.DTSOURCE_OOS_KEYWORDS, lowercase=False)})
        AND NOT regexp_matches(name,
          '\\(.*已售完.*\\)|\\(.*請勿下單.*\\)|\\(.*僅提供報價.*\\)|\\(.*缺貨.*\\)|\\(.*停產.*\\)|\\(.*暫停.*\\)|（.*已售完.*）|（.*請勿下單.*）|（.*僅提供報價.*）|（.*缺貨.*）')
       ) AS in_stock
FROM nm""",
)
def q_dtsource_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 (dtsource.py:26-73): OOS keyword list + bracket regexes over the
    product NAME."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    name = F.concat(
        F.col("p_name"),
        F.when(pk % 5 == 0, F.lit(" (已售完 請勿下單)"))
        .when(pk % 5 == 1, F.lit(" 停產"))
        .when(pk % 5 == 2, F.lit(" （缺貨）"))
        .otherwise(F.lit("")),
    )
    return part.select(
        "p_partkey",
        name.alias("name"),
        predicates.dtsource_in_stock(name).alias("in_stock"),
    )


@_register(
    "sort_by_name",
    """SELECT o_orderkey, nm, rn FROM (
  SELECT o_orderkey, 'Item-' || CAST(o_orderkey % 97 AS VARCHAR) AS nm,
         row_number() OVER (ORDER BY lower('Item-' || CAST(o_orderkey % 97 AS VARCHAR)),
                            o_orderkey) AS rn
  FROM orders)
WHERE rn <= 100""",
)
def q_sort_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (main.py:279-286): name sort = lower(product_name), stable seq
    tie-break."""
    orders = _read(spark, sf_dir, "orders")
    nm = F.concat(F.lit("Item-"), (F.col("o_orderkey") % 97).cast("string"))
    w = Window.orderBy(F.lower(nm), F.col("o_orderkey"))
    return (
        orders.select(
            "o_orderkey", nm.alias("nm"), F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 100)
    )


@_register(
    "filter_stats",
    """SELECT CAST(count(*) AS BIGINT) AS before_n,
       CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS after_n,
       format('{:.1f}', 100.0 * (1 - sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::DOUBLE / count(*))) || '%' AS filter_rate
FROM lineitem""",
)
def q_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (README.md:203-208): before/after counts + filter-rate string."""
    li = _read(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("before_n"),
        F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).alias("after_n"),
        F.concat(
            F.format_string(
                "%.1f",
                100.0
                * (
                    1
                    - F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0))
                    / F.count("*")
                ),
            ),
            F.lit("%"),
        ).alias("filter_rate"),
    )


def _coolpc_clean_oracle() -> str:
    """F7 mirror: the verbatim mojibake replace chain + the (?U) keep-class
    regex spelled out for RE2 (no (?U); \\w is ASCII there, so the class is
    written explicitly with the CJK range)."""
    from price_crawler_spark.functions.names import COOLPC_MOJIBAKE_FIXES

    src = "('dM ' || p_name || ' fB760 Xʡ ★限定')"
    # Java's (?U)\w ≈ RE2's \p{L}\p{N}_ (any-script letters/digits); the CJK
    # range and the mojibake's stray letters (ʡ U+02A1) are both \p{L}.
    expr = (
        f"regexp_replace({src}, "
        "'[^\\p{L}\\p{N}_\\s\\-()\\[\\]/+.]+', ' ', 'g')"
    )
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    for old, new in COOLPC_MOJIBAKE_FIXES:
        o = old.replace("'", "''")
        n = new.replace("'", "''")
        expr = f"replace({expr}, '{o}', '{n}')"
    expr = f"regexp_replace({expr}, '\\[\\s*專案\\s*\\]', '[專案]', 'g')"
    expr = f"regexp_replace({expr}, '\\[\\s*A\\s*-專案\\s*\\]', '[專案]', 'g')"
    return f"SELECT p_partkey, trim({expr}) AS name FROM part"


@_register("name_clean_coolpc", None)  # oracle attached below
def q_name_clean_coolpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (coolpc.py:173-218): keep-class strip + verbatim Big5-mojibake fix
    chain + 專案-tag dedupe, exercised on names carrying real mojibake
    tokens (dM → 專案, fB760 → [需搭配B760], Xʡ → CPU合購)."""
    part = _read(spark, sf_dir, "part")
    raw = F.concat(F.lit("dM "), F.col("p_name"), F.lit(" fB760 Xʡ ★限定"))
    return part.select(
        "p_partkey", names.coolpc_clean_name(raw).alias("name")
    )


ORACLES["name_clean_coolpc"] = _coolpc_clean_oracle()


_PCHOME_SUFFIX_SQL = """(CASE p_partkey % 6
  WHEN 0 THEN ' 電競機組合' WHEN 1 THEN ' + 散熱器'
  WHEN 2 THEN ' 買就送滑鼠' WHEN 3 THEN ' 第2件半價'
  WHEN 4 THEN ' 限時組合價' ELSE '' END)"""


def _pchome_bundle_oracle() -> str:
    kw = duckdb_contains_any("name", predicates.PCHOME_BUNDLE_KEYWORDS)
    # (?U) has no RE2 equivalent — \w spelled out with the CJK range.
    w = "[0-9A-Za-z_一-鿿]"
    multi = (
        f"\\+\\s*{w}+|＋\\s*{w}+|含\\s*{w}+|送\\s*{w}+|\\d+件|\\d+組|第\\d+件"
        "|加購.*\\d+元|限時.*組合|特價.*組合"
    )
    return f"""WITH nm AS (SELECT p_partkey, p_name || {_PCHOME_SUFFIX_SQL} AS name FROM part)
SELECT p_partkey, name,
       ({kw} OR regexp_matches(name, '{multi}')) AS is_bundle
FROM nm"""


@_register("bundle_detect_pchome", None)  # oracle attached below
def q_bundle_detect_pchome(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 (pchome.py:191-245): the full ~60-keyword list + the (?U)
    multi-product regex."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    name = F.concat(
        F.col("p_name"),
        F.when(pk % 6 == 0, F.lit(" 電競機組合"))
        .when(pk % 6 == 1, F.lit(" + 散熱器"))
        .when(pk % 6 == 2, F.lit(" 買就送滑鼠"))
        .when(pk % 6 == 3, F.lit(" 第2件半價"))
        .when(pk % 6 == 4, F.lit(" 限時組合價"))
        .otherwise(F.lit("")),
    )
    return part.select(
        "p_partkey",
        name.alias("name"),
        predicates.pchome_is_bundle(name).alias("is_bundle"),
    )


ORACLES["bundle_detect_pchome"] = _pchome_bundle_oracle()


@_register(
    "lineage_counts",
    """SELECT 'shop' || CAST(o_custkey % 20 AS VARCHAR) AS host,
       CAST(o_orderkey % 3 AS INT) AS wave,
       CAST(count(*) AS BIGINT) AS n_scheduled,
       CAST(sum(CASE WHEN o_orderkey % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(sum(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
FROM orders GROUP BY 1, 2""",
)
def q_lineage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (per-scraper fetch lineage, wave.py log shape): per (host, wave)
    scheduled/ok/failed counts — the map-side-combinable aggregate the wave
    loop commits each snapshot."""
    orders = _read(spark, sf_dir, "orders")
    host = F.concat(F.lit("shop"), (F.col("o_custkey") % 20).cast("string"))
    ok = F.col("o_orderkey") % 11 != 0
    return (
        orders.groupBy(
            host.alias("host"), (F.col("o_orderkey") % 3).cast("int").alias("wave")
        )
        .agg(
            F.count("*").alias("n_scheduled"),
            F.sum(ok.cast("int")).alias("n_ok"),
            F.sum((~ok).cast("int")).alias("n_failed"),
        )
    )


# ---- extraction (P2/P3: CoolPC option scan) --------------------------------

_OPTION_TEXT_SQL = (
    f"(p_name || ', $' || CAST({_BIG_SQL} AS VARCHAR)"
    " || (CASE WHEN p_partkey % 7 = 0 THEN ' 含稅' ELSE '' END))"
)


@_register(
    "coolpc_option_scan",
    f"""WITH opts AS (
  SELECT p_partkey AS option_value, {_OPTION_TEXT_SQL} AS txt FROM part)
SELECT option_value,
       trim(regexp_replace(txt, ',?\\s*\\$\\d+.*$', '')) AS name,
       CAST(regexp_extract(txt, '\\$(\\d+)', 1) AS DOUBLE) AS price
FROM opts
WHERE contains(txt, '$') AND len(txt) > 10 AND contains(lower(txt), 'widget')""",
)
def q_coolpc_option_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3 (coolpc.py:63-81, 220-270): option text → (name, price), kept
    when it contains '$', is long enough, and matches the query."""
    part = _read(spark, sf_dir, "part")
    txt = F.concat(
        F.col("p_name"),
        F.lit(", $"),
        _big_col().cast("string"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit(" 含稅")).otherwise(F.lit("")),
    )
    opts = part.select(F.col("p_partkey").alias("option_value"), txt.alias("txt"))
    return (
        opts.filter(
            F.col("txt").contains("$")
            & (F.length("txt") > 10)
            & F.lower(F.col("txt")).contains("widget")
        )
        .select(
            "option_value",
            F.trim(F.regexp_replace("txt", r",?\s*\$\d+.*$", "")).alias("name"),
            F.regexp_extract("txt", r"\$(\d+)", 1).cast("double").alias("price"),
        )
    )


# ---- extraction (P4: CoolPC JS price arrays — dead code in the reference,
# implemented for 82/82 coverage; quirks documented on the operator) --------

_COOLPC_JS_HTML_SQL = """concat_ws(' ', '<script>',
  'c1=[' || CAST(p_partkey % 100 AS VARCHAR) || ',0,'
         || CAST(p_partkey % 7 AS VARCHAR) || ']',
  CASE WHEN p_partkey % 4 = 0
       THEN 'c1=[' || CAST(p_partkey % 13 AS VARCHAR) || ',5]' ELSE '' END,
  CASE WHEN p_partkey % 3 = 0
       THEN 'c2=[' || CAST(p_partkey % 1000 AS VARCHAR) || ','
                   || CAST(p_partkey % 50 AS VARCHAR) || ']' ELSE '' END,
  'g1=[' || CAST(p_partkey % 10 AS VARCHAR) || '.5,'
         || CAST(p_partkey % 3 AS VARCHAR) || ']',
  CASE p_partkey % 5 WHEN 0 THEN 'Header=[1,2,3]' WHEN 1 THEN 'Header=[12]'
       WHEN 2 THEN 'Header=[1,]' WHEN 4 THEN 'Header=[[1,2],[3]]'
       ELSE '' END,
  '</script>')"""


@_register(
    "coolpc_js_arrays",
    f"""WITH h AS (SELECT p_partkey, {_COOLPC_JS_HTML_SQL} AS html FROM part),
e AS (SELECT p_partkey, list_concat(list_concat(
    list_transform(regexp_extract_all(html, 'c(\\d+)=\\[([\\d,]+)\\]', 0),
      m -> {{'array_name': 'c' || regexp_extract(m, '^c(\\d+)=', 1),
             'data': regexp_extract(m, '\\[([\\d,]+)\\]', 1)}}),
    list_transform(regexp_extract_all(html, 'g(\\d+)=\\[([\\d\\.,]+)\\]', 0),
      m -> {{'array_name': 'g' || regexp_extract(m, '^g(\\d+)=', 1),
             'data': regexp_extract(m, '\\[([\\d\\.,]+)\\]', 1)}})),
    list_transform(
      list_filter(regexp_extract_all(html, 'Header=\\[([\\d\\[\\],]+)\\]', 1),
                  d -> length(d) = 2),
      d -> {{'array_name': 'Header', 'data': d[2]}})) AS entries
  FROM h),
t AS (SELECT p_partkey, unnest(list_transform(entries,
        (x, i) -> {{'array_name': x.array_name, 'data': x.data, 'pos': i}}))
        AS ent FROM e),
w AS (SELECT p_partkey, ent.array_name AS array_name, ent.data AS data,
        row_number() OVER (PARTITION BY p_partkey, ent.array_name
                           ORDER BY ent.pos DESC) AS rn FROM t),
v AS (SELECT p_partkey, array_name, string_split(data, ',') AS xs
      FROM w WHERE rn = 1),
u AS (SELECT p_partkey, array_name, unnest(xs) AS x,
        generate_subscripts(xs, 1) - 1 AS idx FROM v)
SELECT p_partkey, array_name, idx,
  CASE WHEN x = '' OR x = '0' THEN 0.0 ELSE CAST(x AS DOUBLE) END AS value
FROM u""",
)
def q_coolpc_js_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (coolpc.py:42-61, ``_parse_js_arrays`` — dead code, never invoked
    by ``search_products``; implemented to close SURVEY §2 at 82/82). Synth
    pages carry duplicate c1 arrays (last-wins), a '0' element, g floats,
    and all four Header shapes incl. the two len==2 survivors ('12' → [2.0]
    via match[1]; '1,' → [0,0] via splitting ',')."""
    from price_crawler_spark.operators.extraction import coolpc_js_arrays

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    html = F.concat_ws(
        " ",
        F.lit("<script>"),
        F.concat(F.lit("c1=["), (pk % 100).cast("string"), F.lit(",0,"),
                 (pk % 7).cast("string"), F.lit("]")),
        F.when(pk % 4 == 0,
               F.concat(F.lit("c1=["), (pk % 13).cast("string"), F.lit(",5]"))
               ).otherwise(F.lit("")),
        F.when(pk % 3 == 0,
               F.concat(F.lit("c2=["), (pk % 1000).cast("string"), F.lit(","),
                        (pk % 50).cast("string"), F.lit("]"))
               ).otherwise(F.lit("")),
        F.concat(F.lit("g1=["), (pk % 10).cast("string"), F.lit(".5,"),
                 (pk % 3).cast("string"), F.lit("]")),
        F.when(pk % 5 == 0, F.lit("Header=[1,2,3]"))
        .when(pk % 5 == 1, F.lit("Header=[12]"))
        .when(pk % 5 == 2, F.lit("Header=[1,]"))
        .when(pk % 5 == 4, F.lit("Header=[[1,2],[3]]"))
        .otherwise(F.lit("")),
        F.lit("</script>"),
    )
    return (
        part.select("p_partkey", F.explode(coolpc_js_arrays(html)).alias("e"))
        .select(
            "p_partkey",
            F.col("e.array_name").alias("array_name"),
            F.posexplode("e.values").alias("idx", "value"),
        )
    )


# ---- embedded-JSON extraction (P5/P8 family) -------------------------------

@_register(
    "json_field_extract",
    """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
FROM events""",
)
def q_json_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P8 (sinya.py:29-136, sunfar.py:79-125): embedded JSON → typed
    columns via from_json (never per-row json.loads)."""
    events = _read(spark, sf_dir, "events")
    parsed = F.from_json("props", "struct<k:int>")
    return events.select("event_id", parsed.getField("k").alias("k"))


# ---- P6: JS-literal repair + parse -----------------------------------------

_JS_LIT_SQL = """('{name: ''' || p_name || ''', price: ' || CAST(p_partkey AS VARCHAR)
 || (CASE p_partkey % 3 WHEN 0 THEN ', qty: undefined,' WHEN 1 THEN ', qty: , note: 1' ELSE ', qty: 7' END)
 || '}')"""


def _js_lit_col() -> F.Column:
    from price_crawler_spark.functions.jsonrepair import js_literal_repair  # noqa

    pk = F.col("p_partkey")
    return F.concat(
        F.lit("{name: '"),
        F.col("p_name"),
        F.lit("', price: "),
        pk.cast("string"),
        F.when(pk % 3 == 0, F.lit(", qty: undefined,"))
        .when(pk % 3 == 1, F.lit(", qty: , note: 1"))
        .otherwise(F.lit(", qty: 7")),
        F.lit("}"),
    )


def _js_repair_oracle() -> str:
    from price_crawler_spark.functions.jsonrepair import duckdb_js_literal_repair

    fixed = duckdb_js_literal_repair(_JS_LIT_SQL)
    return f"""SELECT p_partkey,
       json_extract_string({fixed}, '$.name') AS name,
       CAST(json_extract({fixed}, '$.price') AS BIGINT) AS price,
       CAST(json_extract({fixed}, '$.qty') AS BIGINT) AS qty
FROM part"""


@_register("js_repair_parse", None)  # oracle attached below (built lazily)
def q_js_repair_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (sinya.py:303-330): 5-step JS-literal repair chain, then from_json
    into typed fields (the embedded-JSON extraction path for JS-literal
    stores)."""
    from price_crawler_spark.functions.jsonrepair import js_literal_repair

    part = _read(spark, sf_dir, "part")
    parsed = F.from_json(
        js_literal_repair(_js_lit_col()),
        "struct<name:string,price:bigint,qty:bigint>",
    )
    return part.select(
        "p_partkey",
        parsed.getField("name").alias("name"),
        parsed.getField("price").alias("price"),
        parsed.getField("qty").alias("qty"),
    )


ORACLES["js_repair_parse"] = _js_repair_oracle()


# ---- P19/P20: detail spec parsing ------------------------------------------

@_register(
    "spec_kv_parse",
    """WITH lines AS (
  SELECT p_partkey,
         ['處理器: ' || p_name,
          '記憶體：' || CAST(8 + p_partkey % 25 AS VARCHAR) || 'GB',
          'no colon here',
          '尺寸: ' || CAST(p_size AS VARCHAR)] AS ls
  FROM part
), ex AS (
  SELECT p_partkey, unnest(range(0, len(lf))) AS pos, unnest(lf) AS l
  FROM (SELECT p_partkey,
               list_filter(ls, x -> regexp_matches(x, '^([^:：]+)[:：]\\s*(.*)$')) AS lf
        FROM lines)
)
SELECT p_partkey, pos,
       trim(regexp_extract(l, '^([^:：]+)[:：]\\s*(.*)$', 1)) AS k,
       trim(regexp_extract(l, '^([^:：]+)[:：]\\s*(.*)$', 2)) AS v
FROM ex""",
)
def q_spec_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P20 (momo.py:270-310): spec lines split on half/full-width colons;
    non-spec lines dropped; exploded with position."""
    from price_crawler_spark.operators.extraction import spec_lines_to_entries

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    lines = F.array(
        F.concat(F.lit("處理器: "), F.col("p_name")),
        F.concat(F.lit("記憶體："), (8 + pk % 25).cast("string"), F.lit("GB")),
        F.lit("no colon here"),
        F.concat(F.lit("尺寸: "), F.col("p_size").cast("string")),
    )
    entries = spec_lines_to_entries(lines)
    return part.select(
        "p_partkey", F.posexplode(entries).alias("pos", "e")
    ).select(
        "p_partkey", "pos",
        F.col("e.k").alias("k"), F.col("e.v").alias("v"),
    )


@_register(
    "spec_join",
    """SELECT p_partkey,
       array_to_string(['CPU: ' || p_name, 'Size: ' || CAST(p_size AS VARCHAR)], '; ') AS specs,
       substr(repeat(p_name || ' ', 60), 1, 500) AS description
FROM part""",
)
def q_spec_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P19 (sunfar.py:239-282) + P20 truncation: k:v spec join with '; ',
    500-char description cap."""
    from price_crawler_spark.operators.extraction import (
        spec_kv_join,
        truncate_description,
    )

    part = _read(spark, sf_dir, "part")
    pairs = F.array(
        F.struct(F.lit("CPU").alias("k"), F.col("p_name").alias("v")),
        F.struct(
            F.lit("Size").alias("k"), F.col("p_size").cast("string").alias("v")
        ),
    )
    desc = F.repeat(F.concat(F.col("p_name"), F.lit(" ")), 60)
    return part.select(
        "p_partkey",
        spec_kv_join(pairs).alias("specs"),
        truncate_description(desc).alias("description"),
    )


# ---- predicates (D1, D10) --------------------------------------------------

_STOCK_CHOICES = ["現貨供應", "缺貨中", "售完", "預購商品", ""]
_STOCK_SQL = (
    "(['現貨供應','缺貨中','售完','預購商品',''])[(p_partkey % 5 + 1)::INT]"
)


@_register(
    "stock_predicate",
    f"""WITH s AS (SELECT p_partkey, {_STOCK_SQL} AS stock_text FROM part)
SELECT p_partkey, stock_text,
       (CASE WHEN stock_text IS NULL OR stock_text = '' THEN FALSE
             ELSE NOT {duckdb_contains_any("stock_text", predicates.OUT_OF_STOCK_KEYWORDS)}
        END) AS in_stock
FROM s""",
)
def q_stock_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 (base_scraper.py:105-116): out-of-stock keyword screen."""
    part = _read(spark, sf_dir, "part")
    stock = F.element_at(
        F.array(*[F.lit(s) for s in _STOCK_CHOICES]),
        (F.col("p_partkey") % 5 + 1).cast("int"),
    )
    return part.select(
        "p_partkey",
        stock.alias("stock_text"),
        predicates.is_in_stock(stock).alias("in_stock"),
    )


_BUNDLE_SUFFIX_SQL = """(CASE p_partkey % 8
  WHEN 0 THEN ' + 散熱器 + 機殼' WHEN 1 THEN ' NITRO+'
  WHEN 2 THEN ' + 主機板' WHEN 3 THEN ' 組合包'
  WHEN 4 THEN ' XT + 金士頓 DDR5 16G' WHEN 5 THEN ' NITRO+ 記憶體超頻'
  WHEN 6 THEN ' 2套' ELSE '' END)"""


def _autobuy_bundle_sql(name: str) -> str:
    """DuckDB mirror of predicates.autobuy_is_bundle, built from the SAME
    constants so the two can never drift. RE2 lacks (?U); plain \\s is safe
    because the synthesized oracle input carries only ASCII whitespace."""
    ind = duckdb_contains_any(name, predicates.AUTOBUY_BUNDLE_INDICATORS)
    model = (
        "(?i)" + predicates._AUTOBUY_MODEL_TOKENS + r"\s*\+\s*?(?:\s|$)"
    )
    esc = (
        "(?i)"
        + predicates._AUTOBUY_MODEL_TOKENS
        + r"\s*\+.*(?:主機板|記憶體|硬碟|電源|螢幕|cpu|處理器)"
    )
    combo = "(?i)" + "|".join(f"(?:{p})" for p in predicates._AUTOBUY_COMBO_PARTS)
    qty = predicates.AUTOBUY_QTY_RE
    return f"""(CASE WHEN {name} IS NULL OR {name} = '' THEN FALSE ELSE (
       {ind}
       OR ((contains({name}, '+') OR contains({name}, '＋')) AND (
             (len(regexp_split_to_array({name}, '[+＋]')) - 1) >= 2
             OR (CASE WHEN regexp_matches({name}, '{model}')
                      THEN regexp_matches({name}, '{esc}')
                      ELSE regexp_matches({name}, '{combo}') END)))
       OR regexp_matches({name}, '{qty}')) END)"""


@_register(
    "bundle_detect",
    f"""WITH nm AS (SELECT p_partkey, p_name || {_BUNDLE_SUFFIX_SQL} AS name FROM part)
SELECT p_partkey, name,
       {_autobuy_bundle_sql("name")} AS is_bundle
FROM nm""",
)
def q_bundle_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 (autobuy.py:204-278, full parity): 50 indicators, plus-count,
    model-suffix escalation (combo patterns skipped on that branch, as in
    the reference), 12 combo patterns, quantity patterns. Suffix cases
    exercise every branch, incl. the model-suffix-without-escalation
    negative (' XT + 金士頓 DDR5 16G' → standalone in the reference)."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    suffix = (
        F.when(pk % 8 == 0, F.lit(" + 散熱器 + 機殼"))
        .when(pk % 8 == 1, F.lit(" NITRO+"))
        .when(pk % 8 == 2, F.lit(" + 主機板"))
        .when(pk % 8 == 3, F.lit(" 組合包"))
        .when(pk % 8 == 4, F.lit(" XT + 金士頓 DDR5 16G"))
        .when(pk % 8 == 5, F.lit(" NITRO+ 記憶體超頻"))
        .when(pk % 8 == 6, F.lit(" 2套"))
        .otherwise(F.lit(""))
    )
    name = F.concat(F.col("p_name"), suffix)
    return part.select(
        "p_partkey",
        name.alias("name"),
        predicates.autobuy_is_bundle(name).alias("is_bundle"),
    )


# ---- detail enrichment + store-faithful predicates (S4/D8, D3, D6, D11) ----

_STATE_SQL = "(['有庫存','缺貨','需確認庫存'])[(p_partkey % 3 + 1)::INT]"
_DETAIL_SQL = (
    "(CASE WHEN p_partkey % 4 = 0 THEN TRUE WHEN p_partkey % 4 = 1 THEN FALSE "
    "WHEN p_partkey % 4 = 3 THEN TRUE END)"
)


@_register(
    "detail_stock_enrich",
    f"""WITH s AS (SELECT p_partkey, {_STATE_SQL} AS stock_state,
       {_DETAIL_SQL} AS d FROM part)
SELECT p_partkey, stock_state,
       (CASE WHEN stock_state = '需確認庫存' THEN coalesce(d, FALSE)
             ELSE stock_state = '有庫存' END) AS in_stock
FROM s""",
)
def q_detail_stock_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 escalation (sinya.py:244-301): 需確認庫存 rows take the detail
    page's verdict, defaulting to 缺貨 (False) without one; explicit states
    keep the search-page verdict."""
    from price_crawler_spark.operators.extraction import resolve_stock

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    state = F.element_at(
        F.array(F.lit("有庫存"), F.lit("缺貨"), F.lit("需確認庫存")),
        (pk % 3 + 1).cast("int"),
    )
    detail = (
        F.when(pk % 4 == 0, F.lit(True))
        .when(pk % 4 == 1, F.lit(False))
        .when(pk % 4 == 3, F.lit(True))
    )
    return part.select(
        "p_partkey",
        state.alias("stock_state"),
        resolve_stock(state, state == "有庫存", detail).alias("in_stock"),
    )


_BO_SUFFIX_SQL = """(CASE p_partkey % 8
  WHEN 0 THEN ' 合購價 NT$999' WHEN 1 THEN ' 限搭組裝機出貨'
  WHEN 2 THEN ' 限搭電源供應器出貨' WHEN 3 THEN ' 此品不可單獨進行販售'
  WHEN 4 THEN ' 搭機價' ELSE '' END)"""


@_register(
    "dtsource_bundle_only",
    f"""WITH nm AS (SELECT p_partkey, p_name || {_BO_SUFFIX_SQL} AS text FROM part)
SELECT p_partkey, text,
       ({duckdb_contains_any("text", predicates.DTSOURCE_BUNDLE_ONLY_KEYWORDS, lowercase=False)}
        OR regexp_matches(text, '{predicates.DTSOURCE_BUNDLE_ONLY_RE}')) AS bundle_only
FROM nm""",
)
def q_dtsource_bundle_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 (dtsource.py:75-123): 合購限定 marker detection — keyword list
    plus the reference's 8 lazy regex patterns (cases 2 and 3 above only
    match via the regexes, not the keywords)."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    text = F.concat(
        F.col("p_name"),
        F.when(pk % 8 == 0, F.lit(" 合購價 NT$999"))
        .when(pk % 8 == 1, F.lit(" 限搭組裝機出貨"))
        .when(pk % 8 == 2, F.lit(" 限搭電源供應器出貨"))
        .when(pk % 8 == 3, F.lit(" 此品不可單獨進行販售"))
        .when(pk % 8 == 4, F.lit(" 搭機價"))
        .otherwise(F.lit("")),
    )
    return part.select(
        "p_partkey",
        text.alias("text"),
        predicates.dtsource_bundle_only(text).alias("bundle_only"),
    )


_BTN_SQL = """(CASE o_orderkey % 6
  WHEN 0 THEN '加入購物車' WHEN 1 THEN '補貨中' WHEN 2 THEN '售完'
  WHEN 3 THEN '暫停販售' WHEN 4 THEN '加入購物車 DISABLED' END)"""


@_register(
    "button_stock",
    f"""WITH b AS (SELECT o_orderkey, {_BTN_SQL} AS btn FROM orders)
SELECT o_orderkey, btn,
       (CASE WHEN btn IS NULL THEN TRUE
             ELSE NOT regexp_matches(btn, '缺貨|補貨|售完|暫停')
                  AND NOT contains(lower(btn), 'disabled') END) AS in_stock
FROM b""",
)
def q_button_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 (pchome.py:166-189): buy-button text/disabled state; a missing
    button (null) is no evidence → True."""
    orders = _read(spark, sf_dir, "orders")
    o = F.col("o_orderkey")
    btn = (
        F.when(o % 6 == 0, F.lit("加入購物車"))
        .when(o % 6 == 1, F.lit("補貨中"))
        .when(o % 6 == 2, F.lit("售完"))
        .when(o % 6 == 3, F.lit("暫停販售"))
        .when(o % 6 == 4, F.lit("加入購物車 DISABLED"))
    )
    return orders.select(
        "o_orderkey",
        btn.alias("btn"),
        predicates.buy_button_in_stock(btn).alias("in_stock"),
    )


_PCHOME_OOS_SQL_RE = predicates.PCHOME_OOS_TEXT_RE  # RE2-compatible as-is


@_register(
    "pchome_stock",
    f"""WITH c AS (SELECT o_orderkey,
  ('item' || CAST(o_orderkey AS VARCHAR)
     || CASE WHEN o_orderkey % 7 = 0 THEN ' 預購' ELSE '' END) AS name,
  (CASE o_orderkey % 5 WHEN 0 THEN '現貨供應' WHEN 1 THEN '補貨中'
        WHEN 2 THEN '暫不供貨' WHEN 3 THEN 'Out of Stock' END) AS stock_text,
  (CASE o_orderkey % 4 WHEN 0 THEN '加入購物車' WHEN 1 THEN '售完'
        WHEN 2 THEN 'buy disabled' END) AS btn
  FROM orders)
SELECT o_orderkey, name, stock_text, btn,
       ((NOT ((name IS NOT NULL AND regexp_matches(name, '{_PCHOME_OOS_SQL_RE}'))
           OR (stock_text IS NOT NULL AND regexp_matches(stock_text, '{_PCHOME_OOS_SQL_RE}'))
           OR (btn IS NOT NULL AND regexp_matches(btn, '{_PCHOME_OOS_SQL_RE}'))))
        AND (CASE WHEN btn IS NULL THEN TRUE
                  ELSE NOT regexp_matches(btn, '缺貨|補貨|售完|暫停')
                       AND NOT contains(lower(btn), 'disabled') END)) AS in_stock
FROM c""",
)
def q_pchome_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 full pchome stock (pchome.py:166-189): the OOS regex scans every
    card text node (name included — ' 預購' in a name is OOS), a null stock
    span defaults to in-stock, and the buy-button check ANDs in."""
    orders = _read(spark, sf_dir, "orders")
    o = F.col("o_orderkey")
    name = F.concat(
        F.lit("item"), o.cast("string"),
        F.when(o % 7 == 0, F.lit(" 預購")).otherwise(F.lit("")),
    )
    stock = (
        F.when(o % 5 == 0, F.lit("現貨供應"))
        .when(o % 5 == 1, F.lit("補貨中"))
        .when(o % 5 == 2, F.lit("暫不供貨"))
        .when(o % 5 == 3, F.lit("Out of Stock"))
    )
    btn = (
        F.when(o % 4 == 0, F.lit("加入購物車"))
        .when(o % 4 == 1, F.lit("售完"))
        .when(o % 4 == 2, F.lit("buy disabled"))
    )
    return orders.select(
        "o_orderkey",
        name.alias("name"),
        stock.alias("stock_text"),
        btn.alias("btn"),
        predicates.pchome_in_stock(F.array(name, stock, btn), btn).alias("in_stock"),
    )


_SAPPHIRE_EL_SQL = """(CASE p_partkey % 5
  WHEN 0 THEN p_name || ' 補貨中' WHEN 1 THEN p_name || ' 加入購物車'
  WHEN 2 THEN p_name WHEN 3 THEN p_name || ' 現貨'
  ELSE 'Coming Soon ' || p_name END)"""
_SAPPHIRE_PRICE_SQL = (
    "(CASE WHEN p_partkey % 2 = 0 THEN 'NT$ ' || CAST(p_partkey AS VARCHAR) "
    "ELSE '來電詢問' END)"
)


@_register(
    "stock_sapphire",
    f"""WITH s AS (SELECT p_partkey, {_SAPPHIRE_EL_SQL} AS t,
                 {_SAPPHIRE_PRICE_SQL} AS p FROM part)
SELECT p_partkey,
       (CASE WHEN {duckdb_contains_any("t", predicates.SAPPHIRE_OOS_INDICATORS)} THEN '無庫存'
             WHEN {duckdb_contains_any("t", predicates.SAPPHIRE_IN_STOCK_INDICATORS)} THEN '有庫存'
             WHEN regexp_matches(p, '[0-9]') THEN '有庫存'
             ELSE '需確認庫存' END) AS state
FROM s""",
)
def q_stock_sapphire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 (sapphire.py:529-563): element-text OOS list → in-stock list →
    price-presence fallback → 需確認庫存."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    t = (
        F.when(pk % 5 == 0, F.concat(F.col("p_name"), F.lit(" 補貨中")))
        .when(pk % 5 == 1, F.concat(F.col("p_name"), F.lit(" 加入購物車")))
        .when(pk % 5 == 2, F.col("p_name"))
        .when(pk % 5 == 3, F.concat(F.col("p_name"), F.lit(" 現貨")))
        .otherwise(F.concat(F.lit("Coming Soon "), F.col("p_name")))
    )
    p = F.when(
        pk % 2 == 0, F.concat(F.lit("NT$ "), pk.cast("string"))
    ).otherwise(F.lit("來電詢問"))
    return part.select(
        "p_partkey", predicates.sapphire_stock_state(t, p).alias("state")
    )


_SINYA_SUFFIX_SQL = """(CASE p_partkey % 7
  WHEN 0 THEN ' 超值組' WHEN 1 THEN ' + 850W 電源'
  WHEN 2 THEN ' + ASRock B650 PG' WHEN 3 THEN ' NITRO+'
  WHEN 4 THEN ' 【救贖】' WHEN 5 THEN ' ＋ 記憶體加購' ELSE '' END)"""


def _sinya_bundle_oracle() -> str:
    kw = duckdb_contains_any("name", predicates.SINYA_BUNDLE_INDICATORS)
    mb = duckdb_contains_any(
        "name", predicates.SINYA_MB_CHIPSETS, lowercase=False
    )
    return f"""WITH nm AS (SELECT p_partkey, p_name || {_SINYA_SUFFIX_SQL} AS name FROM part)
SELECT p_partkey, name,
       ({kw}
        OR ((contains(name, '+') OR contains(name, '＋'))
            AND (regexp_matches(name, '{predicates.SINYA_COMBO_RE}') OR {mb}))) AS is_bundle
FROM nm"""


@_register("bundle_detect_sinya", None)  # oracle attached below
def q_bundle_detect_sinya(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 (sinya.py:332-385): sinya's own indicator list, plus-gated combo
    regexes (half-width + only, as in the reference), chipset heuristic.
    Case 5 (full-width ＋ with a combo word AFTER it) exercises the gate
    firing while every regex misses."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    name = F.concat(
        F.col("p_name"),
        F.when(pk % 7 == 0, F.lit(" 超值組"))
        .when(pk % 7 == 1, F.lit(" + 850W 電源"))
        .when(pk % 7 == 2, F.lit(" + ASRock B650 PG"))
        .when(pk % 7 == 3, F.lit(" NITRO+"))
        .when(pk % 7 == 4, F.lit(" 【救贖】"))
        .when(pk % 7 == 5, F.lit(" ＋ 記憶體加購"))
        .otherwise(F.lit("")),
    )
    return part.select(
        "p_partkey",
        name.alias("name"),
        predicates.sinya_is_bundle(name).alias("is_bundle"),
    )


ORACLES["bundle_detect_sinya"] = _sinya_bundle_oracle()


def _ua_oracle() -> str:
    from price_crawler_spark.frontier.fetch import USER_AGENTS

    arr = "[" + ", ".join(f"'{u}'" for u in USER_AGENTS) + "]"
    return f"""WITH u AS (
  SELECT o_orderkey,
         'https://shop.example.com/p/' || CAST(o_orderkey AS VARCHAR) AS url
  FROM orders)
SELECT o_orderkey,
       ({arr})[((('0x' || substr(md5(url), 1, 12))::BIGINT % {len(USER_AGENTS)}) + 1)::INT] AS ua
FROM u"""


@_register("ua_rotation", None)  # oracle attached below
def q_ua_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (base_scraper.py:32-33, config.py:36-41): deterministic md5-keyed
    UA pick per URL — the distributed stand-in for random.choice that stays
    stable under retries/resume."""
    from price_crawler_spark.frontier.fetch import ua_for_url

    orders = _read(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop.example.com/p/"), F.col("o_orderkey").cast("string")
    )
    return orders.select("o_orderkey", ua_for_url(url).alias("ua"))


ORACLES["ua_rotation"] = _ua_oracle()


_SINYA_DETAIL_TEXT_SQL = """(CASE p_partkey % 5
  WHEN 0 THEN p_name || ' 貨到通知我' WHEN 1 THEN p_name || ' 加入購物車'
  WHEN 4 THEN p_name || ' 等待到貨 立即購買' ELSE p_name END)"""
_SINYA_CART_SQL = "(p_partkey % 5 IN (0, 2))"


def _sinya_detail_oracle() -> str:
    oos = duckdb_contains_any(
        "t", predicates.SINYA_DETAIL_OOS_INDICATORS, lowercase=False
    )
    ins = duckdb_contains_any(
        "t", predicates.SINYA_DETAIL_IN_STOCK_INDICATORS, lowercase=False
    )
    return f"""WITH s AS (SELECT p_partkey, {_SINYA_DETAIL_TEXT_SQL} AS t,
                 {_SINYA_CART_SQL} AS cart FROM part)
SELECT p_partkey,
       (CASE WHEN {oos} THEN '缺貨'
             WHEN {ins} THEN '有庫存'
             WHEN cart THEN '有庫存'
             ELSE '缺貨' END) AS state
FROM s"""


@_register("sinya_detail_stock", None)  # oracle attached below
def q_sinya_detail_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4b (sinya.py:244-301): detail-page whole-text stock check — OOS
    indicators beat in-stock indicators beat the cart-button fallback beat
    the conservative 缺貨 default. Case 4 has BOTH lists present (OOS must
    win); case 2 is cart-button-only; case 3 is the default."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    t = (
        F.when(pk % 5 == 0, F.concat(F.col("p_name"), F.lit(" 貨到通知我")))
        .when(pk % 5 == 1, F.concat(F.col("p_name"), F.lit(" 加入購物車")))
        .when(pk % 5 == 4, F.concat(F.col("p_name"), F.lit(" 等待到貨 立即購買")))
        .otherwise(F.col("p_name"))
    )
    cart = (pk % 5).isin(0, 2)
    return part.select(
        "p_partkey",
        predicates.sinya_detail_stock_state(t, cart).alias("state"),
    )


ORACLES["sinya_detail_stock"] = _sinya_detail_oracle()


# ---- sapphire extraction family oracles (P11, P12, P13) --------------------


def _pixel_docs(part: DataFrame) -> DataFrame:
    """part → sapphire documents with one pixel span of two product triples
    per doc (deterministic ids/prices/quantities)."""
    pk = F.col("p_partkey")
    price1 = F.floor(F.col("p_retailprice")).cast("long")
    price2 = price1 + 7
    text = F.concat(
        F.lit('content_ids:[...], {"id":'),
        (pk * 2).cast("string"),
        F.lit(',"price":'),
        price1.cast("string"),
        F.lit(',"quantity":'),
        (pk % 4).cast("string"),
        F.lit('}, {"id":'),
        (pk * 2 + 1).cast("string"),
        F.lit(',"price":'),
        price2.cast("string"),
        F.lit(',"quantity":'),
        ((pk + 1) % 4).cast("string"),
        F.lit("}"),
    )
    span = F.struct(
        F.lit("pixel").alias("kind"),
        text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(1).cast("int").alias("offset"),
    )
    return part.select(
        "p_partkey",
        F.concat(F.lit("doc"), pk.cast("string")).alias("doc_id"),
        F.array(span).alias("spans"),
        F.lit("sapphire").alias("store"),
        F.lpad(F.conv(pk.cast("string"), 10, 16), 8, "0").alias("seq_key"),
    )


_PIXEL_EXPECTED_SQL = """
WITH ex AS (SELECT p_partkey, floor(p_retailprice)::BIGINT AS p0,
                   unnest([0, 1]) AS i FROM part)
SELECT 'doc' || CAST(p_partkey AS VARCHAR) AS doc_id,
       '藍寶石產品 #' || CAST(p_partkey * 2 + i AS VARCHAR) AS product_name,
       CAST(CASE WHEN i = 0 THEN p0 ELSE p0 + 7 END AS DOUBLE) AS price,
       ((CASE WHEN i = 0 THEN p_partkey % 4 ELSE (p_partkey + 1) % 4 END) > 0) AS in_stock
FROM ex"""


@_register("pixel_mining", _PIXEL_EXPECTED_SQL)
def q_pixel_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 (sapphire.py:146-192): FB-pixel triple regex mining through the
    real operator; the oracle computes the expected parse directly from the
    same deterministic inputs."""
    from price_crawler_spark.operators.extraction import sapphire_pixel_products

    part = _read(spark, sf_dir, "part")
    return sapphire_pixel_products(_pixel_docs(part)).select(
        "doc_id", "product_name", "price", "in_stock"
    )


@_register(
    "pixel_enrich",
    """WITH ex AS (SELECT p_partkey, unnest([0, 1]) AS i FROM part)
SELECT 'doc' || CAST(p_partkey AS VARCHAR) AS doc_id,
       (CASE WHEN i = 0 THEN 'Product ' || CAST(p_partkey AS VARCHAR) || ' A'
             WHEN p_partkey % 3 <> 0 THEN 'Product ' || CAST(p_partkey AS VARCHAR) || ' B™'
             ELSE '藍寶石產品 #' || CAST(p_partkey * 2 + 1 AS VARCHAR) END) AS product_name
FROM ex""",
)
def q_pixel_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 (sapphire.py:194-239): per-document positional title↔pixel
    alignment. Docs with p_partkey%3==0 have ONE title for TWO triples —
    the second keeps its placeholder and alignment must not leak into the
    next document. Title B carries an &trade; entity to exercise F13."""
    from price_crawler_spark.operators.extraction import sapphire_enriched_products

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    docs = _pixel_docs(part)

    def title(text: F.Column, off: int) -> F.Column:
        return F.struct(
            F.lit("title").alias("kind"),
            text.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    t_a = title(F.concat(F.lit("Product "), pk.cast("string"), F.lit(" A")), 2)
    t_b = title(
        F.concat(F.lit("Product "), pk.cast("string"), F.lit(" B&trade;")), 3
    )
    titled = docs.withColumn(
        "spans",
        F.when(pk % 3 == 0, F.concat("spans", F.array(t_a))).otherwise(
            F.concat("spans", F.array(t_a, t_b))
        ),
    )
    return sapphire_enriched_products(titled).select("doc_id", "product_name")

_RAW_URL_SQL = """('HTTP://Shop' || CAST(o_orderkey % 7 AS VARCHAR) || '.Example.COM'
 || (CASE o_orderkey % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':8080' ELSE '' END)
 || '//items//' || CAST(o_orderkey % 100 AS VARCHAR)
 || (CASE WHEN o_orderkey % 2 = 0 THEN '/' ELSE '' END)
 || '?utm_source=news&id=' || CAST(o_orderkey % 50 AS VARCHAR)
 || (CASE WHEN o_orderkey % 5 = 0 THEN '&ref=x&b=1' ELSE '&a=2' END)
 || '#frag')"""


def _raw_url_col() -> F.Column:
    o = F.col("o_orderkey")
    return F.concat(
        F.lit("HTTP://Shop"),
        (o % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(o % 3 == 0, F.lit(":80")).when(o % 3 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("//items//"),
        (o % 100).cast("string"),
        F.when(o % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=news&id="),
        (o % 50).cast("string"),
        F.when(o % 5 == 0, F.lit("&ref=x&b=1")).otherwise(F.lit("&a=2")),
        F.lit("#frag"),
    )


@_register(
    "url_canonicalize",
    "WITH "
    + urls.duckdb_canonical_cte(f"(SELECT {_RAW_URL_SQL} AS url FROM orders)", "url")
    + "\nSELECT canonical_url, count(*) AS n FROM canon GROUP BY 1",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 generalized (north rule): full canonicalizer; grouped so the
    output also proves the dedup-key cardinality matches."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.select(
            urls.canonicalize_with_host_arrow(_raw_url_col())["canonical_url"]
            .alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n"))
    )


@_register(
    "url_id_extract",
    f"""SELECT o_orderkey, regexp_extract({_RAW_URL_SQL}, 'id=([^&]+)', 1) AS pid
FROM orders""",
)
def q_url_id_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 (sunfar.py:55-64)."""
    orders = _read(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", urls.extract_url_id(_raw_url_col()).alias("pid")
    )


_HREF_SQL = """(CASE o_orderkey % 4
  WHEN 0 THEN 'https://cdn.example.com/img/' || CAST(o_orderkey AS VARCHAR) || '.jpg'
  WHEN 1 THEN '//cdn.example.com/p' || CAST(o_orderkey AS VARCHAR) || '.png'
  WHEN 2 THEN '/img/' || CAST(o_orderkey AS VARCHAR)
  ELSE 'rel/' || CAST(o_orderkey AS VARCHAR) END)"""


@_register(
    "url_absolutize",
    f"""WITH h AS (SELECT o_orderkey, {_HREF_SQL} AS href,
                'https://shop.example.com/cat/page.html' AS base FROM orders)
SELECT o_orderkey,
       (CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.\\-]*://') THEN href
             WHEN starts_with(href, '//') THEN 'https:' || href
             WHEN starts_with(href, '/') THEN regexp_replace(base, '(://[^/]+).*$', '\\1') || href
             ELSE regexp_replace(base, '/[^/]*$', '/') || href END) AS abs_url
FROM h""",
)
def q_url_absolutize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 (pchome.py:117-123 et al.)."""
    orders = _read(spark, sf_dir, "orders")
    o = F.col("o_orderkey")
    href = (
        F.when(o % 4 == 0, F.concat(F.lit("https://cdn.example.com/img/"), o.cast("string"), F.lit(".jpg")))
        .when(o % 4 == 1, F.concat(F.lit("//cdn.example.com/p"), o.cast("string"), F.lit(".png")))
        .when(o % 4 == 2, F.concat(F.lit("/img/"), o.cast("string")))
        .otherwise(F.concat(F.lit("rel/"), o.cast("string")))
    )
    base = F.lit("https://shop.example.com/cat/page.html")
    return orders.select(
        "o_orderkey", urls.absolutize(href, base).alias("abs_url")
    )


@_register(
    "generic_json_walk",
    """WITH ex AS (SELECT p_partkey,
       (CAST(floor(p_retailprice) AS BIGINT) * 53 + p_partkey) AS big,
       unnest([0, 1]) AS i FROM part)
SELECT 'doc' || CAST(p_partkey AS VARCHAR) AS doc_id,
       (CASE WHEN i = 0 THEN 'P' || CAST(p_partkey AS VARCHAR) || ' NITRO'
             ELSE 'Q' || CAST(p_partkey AS VARCHAR) END) AS product_name,
       CAST(CASE WHEN i = 0 THEN big ELSE p_partkey END AS DOUBLE) AS price,
       (CASE WHEN i = 0 THEN 'https://sapphiretech.cyberbiz.co/p/' || CAST(p_partkey AS VARCHAR)
             ELSE 'https://x.example.com/p' || CAST(p_partkey AS VARCHAR) END) AS url
FROM ex""",
)
def q_generic_json_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 (sapphire.py:241-268, 302-380): permissive JSON walk through the
    real operator — item 0 uses (title, current_price 'NT$n', relative link),
    item 1 uses (product_name, amount, absolute product_url); the candidate
    array key is 'items'."""
    from price_crawler_spark.operators.extraction import generic_json_products

    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    big = _big_col()
    payload = F.concat(
        F.lit('{"items": [{"title": "P'),
        pk.cast("string"),
        F.lit(' NITRO", "current_price": "NT$'),
        big.cast("string"),
        F.lit('", "link": "/p/'),
        pk.cast("string"),
        F.lit('"}, {"product_name": "Q'),
        pk.cast("string"),
        F.lit('", "amount": "'),
        pk.cast("string"),
        F.lit('", "product_url": "https://x.example.com/p'),
        pk.cast("string"),
        F.lit('"}]}'),
    )
    span = F.struct(
        F.lit("json").alias("kind"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    docs = part.select(
        F.concat(F.lit("doc"), pk.cast("string")).alias("doc_id"),
        F.array(span).alias("spans"),
        F.lit("sapphire").alias("store"),
        F.lpad(F.conv(pk.cast("string"), 10, 16), 8, "0").alias("seq_key"),
    )
    return generic_json_products(docs).select(
        "doc_id", "product_name", "price", "url"
    )


# ---- dedup first-wins (J2) -------------------------------------------------

@_register(
    "dedup_first_wins",
    """WITH li AS (
  SELECT CASE WHEN l_linenumber % 2 = 0
              THEN 'id' || CAST(l_partkey % 500 AS VARCHAR)
              ELSE CAST(l_partkey AS VARCHAR) || '_' || CAST(l_quantity AS VARCHAR) END AS pid,
         l_orderkey * 10 + l_linenumber AS seq
  FROM lineitem)
SELECT pid, seq FROM (
  SELECT pid, seq, row_number() OVER (PARTITION BY pid ORDER BY seq) AS rn FROM li)
WHERE rn = 1""",
)
def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (sunfar.py:49-71): id-or-composite key, first occurrence wins in
    deterministic seq order."""
    li = _read(spark, sf_dir, "lineitem")
    pid = F.when(
        F.col("l_linenumber") % 2 == 0,
        F.concat(F.lit("id"), (F.col("l_partkey") % 500).cast("string")),
    ).otherwise(
        F.concat(
            F.col("l_partkey").cast("string"), F.lit("_"), F.col("l_quantity").cast("string")
        )
    )
    seq = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    base = li.select(pid.alias("pid"), seq.alias("seq"))
    w = Window.partitionBy("pid").orderBy("seq")
    return (
        base.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("pid", "seq")
    )


# ---- politeness scheduler (C3/J5: window-ranked quota) ---------------------

@_register(
    "politeness_quota",
    """WITH f AS (
  SELECT 'shop' || CAST(o_custkey % 20 AS VARCHAR) AS host,
         o_orderkey, o_totalprice,
         10 // (1 + (o_custkey % 20) % 3) AS quota
  FROM orders),
r AS (
  SELECT host, o_orderkey, quota,
         row_number() OVER (PARTITION BY host ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM f)
SELECT host, o_orderkey, rn FROM r WHERE rn <= quota""",
)
def q_politeness_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 (config.py:16, README.md:291): per-host crawl-delay budget →
    window-ranked fetch quota per wave (priority desc, seq tiebreak)."""
    orders = _read(spark, sf_dir, "orders")
    host = F.concat(F.lit("shop"), (F.col("o_custkey") % 20).cast("string"))
    delay = 1 + (F.col("o_custkey") % 20) % 3
    f = orders.select(
        host.alias("host"),
        "o_orderkey",
        "o_totalprice",
        F.floor(10 / delay).cast("long").alias("quota"),
    )
    w = Window.partitionBy("host").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("quota"))
        .select("host", "o_orderkey", "rn")
    )


# ---- top-k / pagination (O3, O4) -------------------------------------------

@_register(
    "topk_per_store",
    """SELECT store, o_orderkey, rn FROM (
  SELECT 'store' || CAST(o_custkey % 10 AS VARCHAR) AS store, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey % 10
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 5""",
)
def q_topk_per_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: per-store result caps in deterministic page order."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy(F.col("o_custkey") % 10).orderBy(
        "o_orderdate", "o_orderkey"
    )
    return (
        orders.select(
            F.concat(F.lit("store"), (F.col("o_custkey") % 10).cast("string")).alias("store"),
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@_register(
    "pagination",
    """SELECT o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn > 40 AND rn <= 60""",
)
def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 (streamlit_app.py:269-310): page 3 @ 20/page of the price sort."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select("o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter((F.col("rn") > 40) & (F.col("rn") <= 60))
    )


# ---- aggregations (A1, A2) -------------------------------------------------

@_register(
    "price_stats",
    """SELECT min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
       round(avg(p_retailprice), 4) AS avg_price,
       max(p_retailprice) - min(p_retailprice) AS price_spread,
       count(*) AS n
FROM part WHERE p_partkey % 4 > 0""",
)
def q_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (streamlit_app.py:383-408) over the in-stock subset."""
    part = _read(spark, sf_dir, "part").filter(F.col("p_partkey") % 4 > 0)
    return part.agg(
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        (F.max("p_retailprice") - F.min("p_retailprice")).alias("price_spread"),
        F.count("*").alias("n"),
    )


_STORE_DIM = [f"src{i}" for i in range(20)] + ["srcOFFLINE"]


@_register(
    "store_stats",
    """WITH dim AS (SELECT unnest({dim}) AS store),
counts AS (SELECT source AS store, count(*) AS c FROM documents GROUP BY 1)
SELECT dim.store AS store, coalesce(c, 0) AS n,
       CASE WHEN coalesce(c, 0) > 0 THEN 'ok' ELSE 'failed' END AS status
FROM dim LEFT JOIN counts ON dim.store = counts.store""".format(
        dim="[" + ", ".join(f"'{s}'" for s in _STORE_DIM) + "]"
    ),
)
def q_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (main.py:137-150): store registry vs. per-store result counts."""
    docs = _read(spark, sf_dir, "documents")
    dim = docs.sparkSession.createDataFrame([(s,) for s in _STORE_DIM], ["store"])
    counts = docs.groupBy(F.col("source").alias("store")).agg(
        F.count("*").alias("c")
    )
    return dim.join(counts, "store", "left").select(
        "store",
        F.coalesce("c", F.lit(0)).alias("n"),
        F.when(F.coalesce("c", F.lit(0)) > 0, "ok").otherwise("failed").alias("status"),
    )


# ---- cache TTL filter (S8, F15) --------------------------------------------

@_register(
    "cache_ttl_filter",
    """SELECT event_type, count(*) AS n_live
FROM events
WHERE ts + INTERVAL 30 MINUTE > TIMESTAMP '2024-01-30 12:00:00'
GROUP BY event_type""",
)
def q_cache_ttl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/F15 (cache.py:46-74): expiry = created_at + TTL > now."""
    events = _read(spark, sf_dir, "events")
    live = events.filter(
        F.col("ts") + F.expr("INTERVAL 30 MINUTES")
        > F.lit("2024-01-30 12:00:00").cast("timestamp")
    )
    return live.groupBy("event_type").agg(F.count("*").alias("n_live"))


@_register(
    "windowed_event_counts",
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2""",
)
def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (the batch shape of
    streaming.windowed_fetch_metrics): per-hour per-type counts + value
    sums."""
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


# ---- streaming stateful seen (driver oracle — VERDICT r4 item 2) -----------

@_register(
    "streaming_seen_equiv",
    """WITH c AS (
  SELECT 'https://shop' || CAST(o_custkey % 8 AS VARCHAR)
         || '.example.com/item/' || CAST(o_orderkey % 1000 AS VARCHAR)
           AS canonical_url,
         o_orderkey % 4 AS batch
  FROM orders)
SELECT canonical_url, CAST(min(batch) AS BIGINT) AS first_batch
FROM c GROUP BY canonical_url""",
)
def q_streaming_seen_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming J2 twin (north rule URL-seen): an ACTUAL Structured
    Streaming run of the applyInPandasWithState sharded first-seen dedup
    (streaming/seen_state.py) over 4 file-source micro-batches must equal
    the batch first-wins answer — the only component family that had no
    CORRECTNESS row before r5.

    Harness: candidate URLs derive from ``orders`` (same expression as the
    oracle SQL), staged as one parquet file per micro-batch with strictly
    increasing mtimes so the file source (oldest-first, maxFilesPerTrigger=1)
    replays them in batch order; ``foreachBatch`` tags each emission with
    its epoch id. ``first_batch`` = the epoch a URL was FIRST emitted in, so
    a state bug that re-emits (or forgets) a URL across batches fails the
    row count AND the value hash, not just a set compare. The driver-side
    collection is the bounded distinct-URL result (the same thing the
    driver collects to hash anyway); a production run would point
    writeStream at a parquet/Iceberg sink instead."""
    import shutil
    import tempfile

    import pandas as pd
    import pyarrow.parquet as pq

    from price_crawler_spark.streaming.seen_state import streaming_first_seen

    tbl = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    ).to_pandas()
    urls = (
        "https://shop" + (tbl["o_custkey"] % 8).astype(str)
        + ".example.com/item/" + (tbl["o_orderkey"] % 1000).astype(str)
    )
    batch = tbl["o_orderkey"] % 4

    root = tempfile.mkdtemp(prefix="pcs_stream_seen_")
    try:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        for b in range(4):
            path = os.path.join(in_dir, f"batch{b}.parquet")
            pd.DataFrame({"canonical_url": urls[batch == b]}).to_parquet(
                path, index=False
            )
            os.utime(path, (1_000_000 + b, 1_000_000 + b))

        stream = (
            spark.readStream.schema("canonical_url string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .withColumn("url_hash", F.xxhash64("canonical_url"))
            .select("url_hash", "canonical_url")
        )
        out = streaming_first_seen(stream)
        collected: list[pd.DataFrame] = []

        def _sink(df: DataFrame, epoch_id: int) -> None:
            pdf = df.select("canonical_url").toPandas()
            pdf["first_batch"] = int(epoch_id)
            collected.append(pdf)

        q = (
            out.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    result = pd.concat(collected, ignore_index=True)
    return spark.createDataFrame(
        result, schema="canonical_url string, first_batch long"
    )


# ---- similarity (J1 — difflib pandas UDF; no SQL equivalent) ---------------

# J1's Ratcliff-Obershelp blend has no SQL mirror (difflib), so the oracle
# is the frozen golden of the deterministic sf0.01 top-50 (the driver's
# oracle scale): 37 exact 'red widget' matches at 1.0 + the first 13
# 'large widget' ties at 0.818182, cut by the (score DESC, p_partkey ASC)
# total order. Algorithmic independence comes from the parity pytest that
# executes the hash-pinned reference matcher over adversarial pairs
# (tests/test_search.py:38); this literal pins the CONTENT so the driver
# hash catches drift the rows-only check could not. Since r5 the literal is
# additionally RE-DERIVED at test time from the pinned reference matcher
# over the real sf0.01 part names (tests/test_frozen_goldens.py) — no
# longer merely a snapshot of engine output.
_SIM_FROZEN_EXACT = [
    1, 28, 112, 113, 119, 264, 267, 311, 387, 401, 493, 519, 527, 546, 553,
    584, 600, 810, 834, 887, 889, 1019, 1109, 1190, 1201, 1290, 1453, 1508,
    1522, 1579, 1609, 1668, 1676, 1691, 1693, 1770, 1974,
]
_SIM_FROZEN_PARTIAL = [
    18, 204, 275, 280, 304, 451, 547, 626, 800, 851, 878, 890, 995,
]
_SIM_FROZEN_SQL = "SELECT * FROM (VALUES\n" + ",\n".join(
    [f"  ({k}, 'red widget', 1.0)" for k in _SIM_FROZEN_EXACT]
    + [f"  ({k}, 'large widget', 0.818182)" for k in _SIM_FROZEN_PARTIAL]
) + "\n) AS t(p_partkey, p_name, similarity_score)"


@_register("similarity_match", _SIM_FROZEN_SQL)
def q_similarity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (product_matcher.py:82-145): Ratcliff-Obershelp blend scoring via
    the vectorized difflib pandas UDF. difflib is not SQL-expressible, so
    the oracle is the frozen sf0.01 golden (see _SIM_FROZEN_SQL)."""
    part = _read(spark, sf_dir, "part")
    sim = similarity_col("red widget", F.col("p_name"))
    return (
        part.select("p_partkey", "p_name", F.round(sim, 6).alias("similarity_score"))
        .filter(F.col("similarity_score") >= 0.2)
        .orderBy(F.desc("similarity_score"), F.asc("p_partkey"))
        .limit(50)
    )


# ---- text-analysis family --------------------------------------------------

@_register(
    "text_language_id",
    f"SELECT doc_id, {text.duckdb_language_id('text')} AS lang_pred FROM documents",
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", text.language_id("text").alias("lang_pred"))


@_register(
    "text_quality",
    f"SELECT doc_id, {text.duckdb_quality_score('text')} AS quality FROM documents",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


@_register(
    "text_token_counts",
    f"""SELECT doc_id, {text.duckdb_token_count('text')} AS n_tokens,
       {text.duckdb_regex_token_count('text')} AS n_bpe_tokens
FROM documents""",
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.regex_token_count("text").alias("n_bpe_tokens"),
    )


@_register(
    "text_fingerprint",
    f"SELECT doc_id, {text.duckdb_fingerprint('text')} AS fp FROM documents",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


# ---- dedup family ----------------------------------------------------------

@_register("dedup_exact", dedup.duckdb_exact_dedup())
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_read(spark, sf_dir, "documents"))


@_register("dedup_minhash_lsh", dedup.duckdb_minhash_lsh_pairs())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_read(spark, sf_dir, "documents"))


# The fast family hashes with seeded xxhash64 (JVM-native; DuckDB has no
# bit-compatible mirror), so its oracle is the frozen sf0.01 golden of all
# 25 near-dup pairs. Independence: the agreement pytest asserts the fast
# family finds the same verified pairs as the portable md5 family (whose
# own DuckDB oracle recomputes end-to-end), and the exact-Jaccard verify
# step is shared; this literal adds driver-hash content pinning. Since r5
# it is additionally RE-DERIVED at test time from the portable family's
# independent DuckDB recomputation (tests/test_frozen_goldens.py).
_MINHASH_FAST_FROZEN = [
    (8, 245, 0.987805), (26, 455, 0.9), (31, 383, 0.97619),
    (44, 446, 0.956522), (45, 267, 0.974026), (45, 413, 0.987013),
    (58, 293, 0.985714), (61, 185, 0.982456), (70, 447, 0.98913),
    (72, 377, 0.97561), (87, 134, 0.954545), (92, 450, 0.958333),
    (98, 290, 0.98913), (107, 387, 0.973684), (120, 332, 0.971429),
    (152, 178, 0.972973), (166, 323, 0.983333), (267, 413, 0.986842),
    (285, 301, 0.98913), (295, 374, 0.966667), (310, 389, 0.961538),
    (326, 457, 0.971429), (393, 420, 0.987342), (435, 486, 0.966667),
    (458, 462, 0.982759),
]
_MINHASH_FAST_FROZEN_SQL = "SELECT * FROM (VALUES\n" + ",\n".join(
    f"  ({a}, {b}, {j!r})" for a, b, j in _MINHASH_FAST_FROZEN
) + "\n) AS t(id_a, id_b, jaccard)"


@_register("dedup_minhash_lsh_fast", _MINHASH_FAST_FROZEN_SQL)
def q_dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production hash family (seeded xxhash64 — JVM-native, no portable
    mirror): same banding/verify pipeline as dedup_minhash_lsh. Oracle =
    frozen sf0.01 golden (see _MINHASH_FAST_FROZEN)."""
    return dedup.minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), family="fast"
    )


@_register("dedup_simhash", dedup.duckdb_simhash())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_read(spark, sf_dir, "documents"))


@_register("dedup_ngram_jaccard", dedup.duckdb_blocked_jaccard_pairs())
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.blocked_jaccard_pairs(_read(spark, sf_dir, "documents"))


# ---- ANN family ------------------------------------------------------------

@_register("ann_cosine_topk", ann.duckdb_cosine_topk(0, 10))
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.cosine_topk(_read(spark, sf_dir, "embeddings"), 0, 10)


@_register("ann_ivf_topk", ann.duckdb_ivf_topk(0, 10))
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.ivf_topk(_read(spark, sf_dir, "embeddings"), 0, 10)


@_register("dedup_embedding_cosine", ann.duckdb_embedding_near_pairs())
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth dedup family: embedding-cosine near-dup pairs, block-local
    self-join on the coarse label (partition-local at scale)."""
    return ann.embedding_near_pairs(_read(spark, sf_dir, "embeddings"))


@_register("ann_signlsh_topk", ann.duckdb_signlsh_topk(0, 10))
def q_ann_signlsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH probe. Oracled since r3: DuckDB derives
    the identical md5 hyperplanes (``('0x'||hex)::BIGINT`` ≡ Spark
    ``conv(hex,16,10)``) and replays the same left-fold projections, so
    bucket membership and cosines match bit-for-bit."""
    return ann.signlsh_topk(_read(spark, sf_dir, "embeddings"), 0, 10)


# ---- flagship crawl demo (rows-only — the synthetic web is the input) ------

@_register("crawl_search_demo", oracle=None)
def q_crawl_search_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end flagship slice through the real engine: seed → politeness
    waves → synthetic fetch → span extraction → products → similarity
    search('RTX 4090', sort price asc). Input is the deterministic synthetic
    web (not the sf tables), so this is a rows-only check; ordering parity
    with the pure-Python reference oracle is pytest-gated
    (tests/test_frontier.py, tests/test_search.py).

    The crawl runs to DRAIN under a per-process store dir (fresh mkdtemp the
    first time this process asks for these queries, memoized after): repeat
    invocations in the same process re-read the committed snapshot from disk
    and return the identical lazy plan — no ``.collect()`` round-trip — while
    concurrent driver processes and engine-code changes each get their own
    store (no cross-process manifest races, no stale-cache-by-forgotten-tag;
    the crawl is deterministic, so every store holds the same content)."""
    import datetime

    from price_crawler_spark.frontier.wave import CrawlRun
    from price_crawler_spark.operators.extraction import extract_products
    from price_crawler_spark.operators.search import (
        QueryCache,
        result_payload,
        search,
        search_cached,
    )
    from price_crawler_spark.sources.store import SnapshotStore

    queries = ["RTX 4090"]
    key = tuple(queries)
    root = _DEMO_RUN_DIRS.get(key)
    if root is None:
        import tempfile

        root = tempfile.mkdtemp(prefix="pcs_demo_")
        _DEMO_RUN_DIRS[key] = root

    # J4 cache short-circuit (main.py:170-188): the second invocation in a
    # process hits the query cache and re-applies filters+sort to the cached
    # rows (search_cached) — no re-crawl, no similarity recompute. The
    # injected `now` is fixed so TTL logic is deterministic.
    now = datetime.datetime(2026, 1, 1)
    qc = QueryCache(spark, SnapshotStore(os.path.join(root, "qcache")))
    hit = qc.get("RTX 4090", now)
    if hit is not None:
        out = search_cached(spark, hit, sort_by="price", order="asc")
    else:
        run = CrawlRun(spark, root, queries=queries)
        run.run(max_waves=8)  # drains well before 8; terminal state stable
        products = extract_products(run.documents())
        out = search(products, "RTX 4090", sort_by="price", order="asc")
        qc.set("RTX 4090", result_payload(out), now)
    return out.select(
        "store", "product_name", "price", "in_stock",
        F.round("similarity_score", 6).alias("similarity_score"),
    )


# Frozen snapshot of the flagship demo's full row content (VERDICT r3 item
# 5): the synthetic web is deterministic, so the 18 result rows for the
# fixed query 'RTX 4090' are a stable golden. The literals were generated
# once from the engine output whose every stage is independently
# parity-gated (crawl order + URL-seen set vs tests/oracle_crawler.py,
# per-store extraction vs reference goldens, similarity vs the hash-pinned
# reference matcher — tests/test_frontier.py, test_extraction.py,
# test_search.py), so the driver hash now pins the demo's CONTENT, not just
# its row count. A catalog/matcher change must regenerate them consciously.
# Since r5 the rows are additionally RE-DERIVED at test time from the
# synthetic catalog's ground-truth functions + the pinned reference matcher
# — no crawl, no extraction, no Spark (tests/test_frozen_goldens.py).
_DEMO_FROZEN_ROWS = [
    ("coolpc", "MSI RTX 4060 8GB VENTUS 2X", 11098.0, True, 0.269853),
    ("coolpc", "GIGABYTE RTX 3060 Ti 8GB EAGLE", 15547.0, True, 0.250658),
    ("coolpc", "ASUS TUF RTX 4060 Ti 16GB", 17863.0, True, 0.272348),
    ("coolpc", "MSI RTX 3070 8GB Gaming X Trio", 19488.0, True, 0.250658),
    ("coolpc", "GIGABYTE RTX 4070 12GB WINDFORCE", 22630.0, True, 0.2575),
    ("coolpc", "ASUS TUF RTX 5070 12GB", 27265.0, True, 0.2675),
    ("coolpc", "ASUS ROG RTX 3080 10GB STRIX", 28107.0, True, 0.254167),
    ("coolpc", "MSI RTX 4080 SUPER 16GB Gaming X", 34994.0, True, 0.2575),
    ("coolpc", "GIGABYTE RTX 5070 Ti 16GB WINDFORCE", 37057.0, True, 0.243314),
    ("sunfar", "ASUS ROG RTX 4090 24GB GDDR6X", 44171.0, True, 0.70959),
    ("dtsource", "ASUS ROG RTX 4090 24GB GDDR6X", 44180.0, True, 0.70959),
    ("autobuy", "ASUS ROG RTX 4090 24GB GDDR6X", 44716.0, True, 0.70959),
    ("sapphire", "ASUS ROG RTX 4090 24GB GDDR6X", 45407.0, True, 0.70959),
    ("sinya", "ASUS ROG RTX 4090 24GB GDDR6X", 45468.0, True, 0.70959),
    ("pchome", "ASUS ROG RTX 4090 24GB GDDR6X", 45915.0, True, 0.70959),
    ("coolpc", "ASUS ROG RTX 4090 24GB GDDR6X", 45929.0, True, 0.70959),
    ("coolpc", "MSI RTX 5080 16GB Gaming X Trio", 54693.0, True, 0.249038),
    ("coolpc", "ASUS ROG RTX 5090 32GB STRIX", 85955.0, True, 0.265278),
]

_DEMO_FROZEN_SQL = "SELECT * FROM (VALUES\n" + ",\n".join(
    f"  ('{s}', '{n}', {p!r}, {'TRUE' if st else 'FALSE'}, {sim!r})"
    for s, n, p, st, sim in _DEMO_FROZEN_ROWS
) + "\n) AS t(store, product_name, price, in_stock, similarity_score)"


@_register("crawl_search_demo_rows", _DEMO_FROZEN_SQL)
def q_crawl_search_demo_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship demo, hash-verified against its frozen golden rows (see
    _DEMO_FROZEN_ROWS). Same lazy plan as crawl_search_demo — the memoized
    per-process store means the crawl runs at most once per process."""
    return q_crawl_search_demo(spark, sf_dir)


# ---- multimodal family -----------------------------------------------------

@_register("multimodal_decode", multimodal.duckdb_decoded_media())
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return multimodal.decode_media(multimodal.with_media_payload(docs))


@_register("multimodal_frame_sample", multimodal.duckdb_sampled_frames())
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return multimodal.sample_frames(
        multimodal.decode_media(multimodal.with_media_payload(docs))
    )


@_register("multimodal_resize", multimodal.duckdb_resized_media())
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize stage (mapInPandas; dims arithmetic is the
    checkable part, the production body swaps in PIL.resize)."""
    docs = _read(spark, sf_dir, "documents")
    return multimodal.resize_media(
        multimodal.decode_media(multimodal.with_media_payload(docs))
    )


_FEAT_SCALAR_SQL = """
SELECT doc_id,
       ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
       {parts}
FROM documents""".format(
    parts=", ".join(
        f"('0x' || substr(md5(text), {8 * i + 1}, 8))::BIGINT / 4294967296.0 AS f{i}"
        for i in range(4)
    )
)


@_register("multimodal_features", _FEAT_SCALAR_SQL)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload feature vector (md5-derived 4-d signature standing in for
    an encoder embedding; Arrow batch shape is the production shape). The
    array is flattened to f0..f3 for the driver's column-sorted value hash
    (array cells don't sort portably)."""
    docs = _read(spark, sf_dir, "documents")
    mf = multimodal.media_feature_vector(multimodal.with_media_payload(docs))
    return mf.select(
        "doc_id",
        "kind",
        *[F.element_at("feat", i + 1).alias(f"f{i}") for i in range(4)],
    )


# ---------------------------------------------------------------------------
# P16-P18 — disabled-store parse cores (momo / sanjing / gh3c)
# ---------------------------------------------------------------------------
# The stores are disabled in the reference registry (main.py:49-52) so the
# active products view excludes them; these queries oracle-check the parse
# decision cores (name clean, price parse, stock predicate, description
# assembly) that extraction.disabled_store_products applies at span level.

_MOMO_CARD_NAME_SQL = """((CASE WHEN p_partkey % 4 = 0 THEN '【週年慶】' ELSE '' END)
  || p_name ||
  (CASE p_partkey % 4 WHEN 1 THEN ' ★送好禮★' WHEN 2 THEN ' 限時特價再折' ELSE '' END))"""
_MOMO_CARD_PRICE_SQL = """(CASE p_partkey % 5
  WHEN 0 THEN '$1,' || lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0')
  WHEN 1 THEN 'NT$' || CAST(p_partkey % 9000 + 100 AS VARCHAR)
  WHEN 2 THEN '價格未定' WHEN 3 THEN NULL
  ELSE CAST(p_partkey % 500 + 1 AS VARCHAR) || '元起' END)"""
_MOMO_CARD_STOCK_SQL = """(CASE p_partkey % 6
  WHEN 0 THEN '缺貨中' WHEN 1 THEN '現貨不足' WHEN 2 THEN 'Sold Out'
  WHEN 3 THEN '有庫存' ELSE NULL END)"""
_MOMO_CARD_BTN_SQL = """(CASE p_partkey % 7
  WHEN 0 THEN '無法購買' WHEN 1 THEN '加入購物車' WHEN 2 THEN 'buy disabled'
  ELSE NULL END)"""
# Reference-VERBATIM regex literals for the disabled-store oracles. These
# are deliberately NOT interpolated from operators.predicates: the Spark
# side uses the package constants, the DuckDB side uses these pinned
# copies of the reference regexes (momo.py:230,244; gh3c.py:178,191,197),
# so any drift between predicates.py and the reference fails the driver
# hash instead of silently propagating to both sides (ADVICE r3).
_MOMO_OOS_REF = (
    "(?i)缺貨|售完|補貨中|暫停供應|停產|預購|無庫存|out.*stock|sold.*out"
    "|暫不供貨|現貨不足"
)
_MOMO_BUTTON_OOS_REF = "缺貨|補貨|售完|暫停|無法購買"
_GH3C_OOS_REF = (
    "(?i)缺貨|售完|補貨中|暫停供應|停產|預購|無庫存|out.*stock|sold.*out"
    "|現貨不足|暫時缺貨"
)
_GH3C_BUTTON_OOS_REF = "缺貨|補貨|售完|暫停|無法購買|聯絡我們"
_GH3C_INQUIRY_REF = "詢價|電洽|來電詢問"

_DIGIT_RUN_SQL = (
    "(CASE WHEN regexp_extract(regexp_replace(coalesce({e}, ''), '[$,]', '', 'g'),"
    " '[0-9]+') = '' THEN 0.0 ELSE CAST(regexp_extract(regexp_replace("
    "coalesce({e}, ''), '[$,]', '', 'g'), '[0-9]+') AS DOUBLE) END)"
)


@_register(
    "momo_card_parse",
    f"""WITH c AS (SELECT p_partkey, {_MOMO_CARD_NAME_SQL} AS name_raw,
  {_MOMO_CARD_PRICE_SQL} AS price_text, {_MOMO_CARD_STOCK_SQL} AS stock_text,
  {_MOMO_CARD_BTN_SQL} AS btn FROM part)
SELECT p_partkey, {_momo_clean_sql('name_raw')} AS name,
  {_DIGIT_RUN_SQL.format(e='price_text')} AS price,
  ((NOT ((name_raw IS NOT NULL AND regexp_matches(name_raw, '{_MOMO_OOS_REF}'))
      OR (price_text IS NOT NULL AND regexp_matches(price_text, '{_MOMO_OOS_REF}'))
      OR (stock_text IS NOT NULL AND regexp_matches(stock_text, '{_MOMO_OOS_REF}'))
      OR (btn IS NOT NULL AND regexp_matches(btn, '{_MOMO_OOS_REF}'))))
   AND (CASE WHEN btn IS NULL THEN TRUE
             ELSE NOT regexp_matches(btn, '{_MOMO_BUTTON_OOS_REF}')
                  AND NOT contains(lower(btn), 'disabled') END)) AS in_stock
FROM c""",
)
def q_momo_card_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16 (momo.py:126-268): name clean (paired-delimiter removal), price =
    first digit run default 0, stock = per-text-node OOS regex + momo's
    button variant (無法購買) with null-button → in-stock."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    name_raw = F.concat(
        F.when(pk % 4 == 0, F.lit("【週年慶】")).otherwise(F.lit("")),
        F.col("p_name"),
        F.when(pk % 4 == 1, F.lit(" ★送好禮★"))
        .when(pk % 4 == 2, F.lit(" 限時特價再折"))
        .otherwise(F.lit("")),
    )
    price_text = (
        F.when(pk % 5 == 0,
               F.concat(F.lit("$1,"), F.lpad((pk % 1000).cast("string"), 3, "0")))
        .when(pk % 5 == 1, F.concat(F.lit("NT$"), (pk % 9000 + 100).cast("string")))
        .when(pk % 5 == 2, F.lit("價格未定"))
        .when(pk % 5 == 3, F.lit(None).cast("string"))
        .otherwise(F.concat((pk % 500 + 1).cast("string"), F.lit("元起")))
    )
    stock_text = (
        F.when(pk % 6 == 0, F.lit("缺貨中"))
        .when(pk % 6 == 1, F.lit("現貨不足"))
        .when(pk % 6 == 2, F.lit("Sold Out"))
        .when(pk % 6 == 3, F.lit("有庫存"))
        .otherwise(F.lit(None).cast("string"))
    )
    btn = (
        F.when(pk % 7 == 0, F.lit("無法購買"))
        .when(pk % 7 == 1, F.lit("加入購物車"))
        .when(pk % 7 == 2, F.lit("buy disabled"))
        .otherwise(F.lit(None).cast("string"))
    )
    card = F.array(name_raw, price_text, stock_text, btn)
    return part.select(
        "p_partkey",
        names.momo_clean_name(name_raw).alias("name"),
        prices.digit_run_price(F.coalesce(price_text, F.lit(""))).alias("price"),
        predicates.momo_in_stock(card, btn).alias("in_stock"),
    )


_GH3C_NAME_SQL = "('EXCELLENT ' || p_name)"
_GH3C_STOCK_SQL = """(CASE p_partkey % 6
  WHEN 0 THEN '暫時缺貨' WHEN 1 THEN '現貨' WHEN 2 THEN '電洽'
  WHEN 3 THEN 'OUT of stock' ELSE NULL END)"""
_GH3C_BTN_SQL = """(CASE p_partkey % 5
  WHEN 0 THEN '聯絡我們' WHEN 1 THEN '加入購物車' WHEN 2 THEN '購買 Disabled'
  ELSE NULL END)"""
_GH3C_FULLTEXT_SQL = """(gname || ' ' || coalesce(stock_text, '') || ' ' ||
  coalesce(btn, '') || (CASE p_partkey % 3 WHEN 0 THEN ' NT$12,' ||
  lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0') WHEN 1 THEN ' 8GB'
  ELSE '' END))"""


@_register(
    "gh3c_stock",
    f"""WITH c AS (SELECT p_partkey, {_GH3C_NAME_SQL} AS gname,
  {_GH3C_STOCK_SQL} AS stock_text, {_GH3C_BTN_SQL} AS btn FROM part),
d AS (SELECT *, {_GH3C_FULLTEXT_SQL} AS full_text FROM c)
SELECT p_partkey, full_text,
  ((NOT ((gname IS NOT NULL AND regexp_matches(gname, '{_GH3C_OOS_REF}'))
      OR (stock_text IS NOT NULL AND regexp_matches(stock_text, '{_GH3C_OOS_REF}'))
      OR (btn IS NOT NULL AND regexp_matches(btn, '{_GH3C_OOS_REF}'))))
   AND (NOT ((gname IS NOT NULL AND regexp_matches(gname, '{_GH3C_INQUIRY_REF}'))
      OR (stock_text IS NOT NULL AND regexp_matches(stock_text, '{_GH3C_INQUIRY_REF}'))
      OR (btn IS NOT NULL AND regexp_matches(btn, '{_GH3C_INQUIRY_REF}'))))
   AND (CASE WHEN btn IS NULL THEN TRUE
             ELSE NOT regexp_matches(btn, '{_GH3C_BUTTON_OOS_REF}')
                  AND NOT contains(lower(btn), 'disabled') END)) AS in_stock,
  (CASE WHEN regexp_extract(regexp_replace(full_text, ',', '', 'g'), '[0-9]+') = ''
        THEN 0.0
        WHEN CAST(regexp_extract(regexp_replace(full_text, ',', '', 'g'), '[0-9]+') AS DOUBLE)
             BETWEEN 100.0 AND 1000000.0
        THEN CAST(regexp_extract(regexp_replace(full_text, ',', '', 'g'), '[0-9]+') AS DOUBLE)
        ELSE 0.0 END) AS fallback_price
FROM d""",
)
def q_gh3c_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P18 (gh3c.py:124-210): stock = OOS set (+暫時缺貨) AND no inquiry
    pricing (詢價/電洽/來電詢問) AND button check (+聯絡我們); plus the
    no-price-element fallback scan (first digit run in [100, 1e6])."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    gname = F.concat(F.lit("EXCELLENT "), F.col("p_name"))
    stock_text = (
        F.when(pk % 6 == 0, F.lit("暫時缺貨"))
        .when(pk % 6 == 1, F.lit("現貨"))
        .when(pk % 6 == 2, F.lit("電洽"))
        .when(pk % 6 == 3, F.lit("OUT of stock"))
        .otherwise(F.lit(None).cast("string"))
    )
    btn = (
        F.when(pk % 5 == 0, F.lit("聯絡我們"))
        .when(pk % 5 == 1, F.lit("加入購物車"))
        .when(pk % 5 == 2, F.lit("購買 Disabled"))
        .otherwise(F.lit(None).cast("string"))
    )
    full_text = F.concat(
        gname, F.lit(" "), F.coalesce(stock_text, F.lit("")), F.lit(" "),
        F.coalesce(btn, F.lit("")),
        F.when(pk % 3 == 0,
               F.concat(F.lit(" NT$12,"), F.lpad((pk % 1000).cast("string"), 3, "0")))
        .when(pk % 3 == 1, F.lit(" 8GB"))
        .otherwise(F.lit("")),
    )
    card = F.array(gname, stock_text, btn)
    return part.select(
        "p_partkey",
        full_text.alias("full_text"),
        predicates.gh3c_in_stock(card, btn).alias("in_stock"),
        prices.gh3c_fallback_price(full_text).alias("fallback_price"),
    )


_SANJING_SPECS_SQL = """list_slice(
  ['螢幕 ' || CAST(p_partkey % 30 + 10 AS VARCHAR) || '吋',
   CASE WHEN p_partkey % 6 = 0 THEN '   '
        ELSE '記憶體 ' || CAST(8 + p_partkey % 56 AS VARCHAR) || 'GB' END,
   '硬碟 ' || CAST(p_partkey % 4 + 1 AS VARCHAR) || 'TB',
   '保固 ' || CAST(p_partkey % 3 + 1 AS VARCHAR) || '年'],
  1, p_partkey % 5)"""


@_register(
    "sanjing_card_parse",
    f"""WITH c AS (SELECT p_partkey,
  (CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_name END) AS name_raw,
  'NT$' || CAST(p_partkey % 90000 + 1000 AS VARCHAR) || ' 元' AS price_text,
  list_filter(list_transform({_SANJING_SPECS_SQL}, x -> trim(x)),
              x -> x IS NOT NULL AND x <> '') AS specs,
  'FULL ' || p_name AS fullname FROM part)
SELECT p_partkey,
  coalesce(name_raw, '未知產品') AS name,
  {_DIGIT_RUN_SQL.format(e='price_text')} AS price,
  TRUE AS in_stock,
  coalesce(nullif(array_to_string(list_slice(specs, 1, 3), ' | '), ''), fullname)
    AS description
FROM c""",
)
def q_sanjing_card_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P17 (sanjing.py:151-224): name defaults to 未知產品, price = digit
    run, ALWAYS in stock, description = first 3 spec lines joined ' | '
    falling back to the full-name div. Spec lines are stripped and empties
    dropped BEFORE the first-3 slice (sanjing.py:199-200) — every 6th part
    carries a whitespace-only spec line to exercise exactly that."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    name_raw = F.when(pk % 7 != 0, F.col("p_name"))
    price_text = F.concat(
        F.lit("NT$"), (pk % 90000 + 1000).cast("string"), F.lit(" 元")
    )
    specs = F.slice(
        F.array(
            F.concat(F.lit("螢幕 "), (pk % 30 + 10).cast("string"), F.lit("吋")),
            F.when(pk % 6 == 0, F.lit("   ")).otherwise(
                F.concat(F.lit("記憶體 "), (pk % 56 + 8).cast("string"), F.lit("GB"))
            ),
            F.concat(F.lit("硬碟 "), (pk % 4 + 1).cast("string"), F.lit("TB")),
            F.concat(F.lit("保固 "), (pk % 3 + 1).cast("string"), F.lit("年")),
        ),
        F.lit(1),
        pk % 5,
    )
    specs = F.filter(
        # single-arg lambda: F.transform would feed (element, index) to a
        # bare F.trim, producing two-parameter TRIM
        F.transform(specs, lambda t: F.trim(t)),
        lambda t: t.isNotNull() & (t != ""),
    )
    fullname = F.concat(F.lit("FULL "), F.col("p_name"))
    desc = F.coalesce(
        F.nullif(F.array_join(F.slice(specs, 1, 3), " | "), F.lit("")), fullname
    )
    return part.select(
        "p_partkey",
        F.coalesce(name_raw, F.lit("未知產品")).alias("name"),
        prices.digit_run_price(price_text).alias("price"),
        F.lit(True).alias("in_stock"),
        desc.alias("description"),
    )


# ---------------------------------------------------------------------------
# registry ordering for the driver's capped correctness pass
# ---------------------------------------------------------------------------
# The driver checks roughly the first 50 registry entries per round and
# records the ones it checked in CORRECTNESS_r<round>.json beside the
# package. Order therefore encodes priority: the queries whose last check is
# oldest go first, so with 68 queries every one is re-checked at least every
# second round.

_RECORDS_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def rotation_order(queries: list[str], records_dir: str = _RECORDS_DIR) -> list[str]:
    """``queries`` ordered by the last round whose correctness record holds
    each one, oldest first (never checked counts as round 0); ties keep the
    given order, so with no record files the order is unchanged (as when
    the package is imported from a zip)."""
    last = dict.fromkeys(queries, 0)
    for f in os.listdir(records_dir) if os.path.isdir(records_dir) else ():
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)
        if m:
            with open(os.path.join(records_dir, f)) as fh:
                for name in json.load(fh):
                    if name in last:
                        last[name] = max(last[name], int(m.group(1)))
    return sorted(queries, key=last.__getitem__)


def _reorder_registry() -> None:
    ordered = {n: QUERIES[n] for n in rotation_order(list(QUERIES))}
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder_registry()
