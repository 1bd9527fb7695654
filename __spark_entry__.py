"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a pyspark_validator operator over the driver's
parquet tables (plus two deterministic derived views, below) and has a matching
DuckDB ``oracle_sql()`` implementing the same semantics in ANSI SQL. Column
names and rounding (round(x, 6/9)) are aligned on both sides so the driver's
order-insensitive value-hash compare is exact.

Derived views (constructed identically in Spark exprs and DuckDB SQL):
  * docs_spans -- the interleaved-document shape from BASELINE.json.input_hint,
    derived deterministically from ``documents``: text is chunked into 64-char
    spans, every (doc_id+i) % 7 == 0 chunk becomes an image span, docs with
    doc_id % 100 == 0 are duplicated (% 1000 == 0 triplicated), and duplicate
    copy 1 of doc_id % 200 == 0 docs gets a variant extra span (breaking the
    FD doc_id -> span_seq at exactly those docs). span_seq is the canonical
    span-sequence string (kind US text US media_ref, RS-joined, NUL-N for null)
    produced by pyspark_validator.canonical.span_seq_expr on the Spark side and
    replicated literally in SQL.
  * documents_planted -- documents unioned with near/exact duplicate copies
    (doc_id % 50 == 0 re-inserted at doc_id + 1000000) for dedup checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

US = "\x1f"  # unit separator (field)
RS = "\x1e"  # record separator (span)
NULLTOK = "\x00N"

# ---------------------------------------------------------------------------
# derived views


def _docs_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved-doc table, derived deterministically from documents."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("did"), "text"
    )
    copies = (
        F.when(F.col("did") % 1000 == 0, 3)
        .when(F.col("did") % 100 == 0, 2)
        .otherwise(1)
    )
    d = d.withColumn("copy", F.explode(F.sequence(F.lit(0), copies - 1)))
    n_chunks = F.greatest(F.ceil(F.length("text") / F.lit(64.0)).cast("int"), F.lit(1))
    is_img = lambda i: (F.col("did") + i) % 7 == 0  # noqa: E731
    span = lambda i: F.struct(  # noqa: E731
        F.when(is_img(i), F.lit("image")).otherwise(F.lit("text")).alias("kind"),
        F.when(is_img(i), F.lit(None).cast("string"))
        .otherwise(F.substring(F.col("text"), i * 64 + 1, 64))
        .alias("text"),
        F.when(
            is_img(i),
            F.concat(
                F.lit("media://image/"),
                ((F.col("did") * 31 + i) % 100000).cast("string"),
            ),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("media_ref"),
        (i * 64).cast("int").alias("offset"),
    )
    base_spans = F.transform(F.sequence(F.lit(0), n_chunks - 1), span)
    variant = (F.col("copy") == 1) & (F.col("did") % 200 == 0)
    extra = F.struct(
        F.lit("text").alias("kind"),
        F.lit("variant").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        (n_chunks * 64).cast("int").alias("offset"),
    )
    spans = F.when(variant, F.concat(base_spans, F.array(extra))).otherwise(base_spans)
    return d.select(
        F.format_string("doc_%012d", F.col("did")).alias("doc_id"),
        spans.alias("spans"),
    )


#: DuckDB CTE mirroring _docs_spans byte-for-byte (span_seq string form).
DOCS_SPANS_SQL = """
docs_spans AS (
  SELECT
    'doc_' || lpad(CAST(d.doc_id AS VARCHAR), 12, '0') AS doc_id,
    array_to_string(
      list_transform(
        range(0, greatest(CAST(ceil(length(d.text) / 64.0) AS INT), 1)),
        i -> CASE WHEN (d.doc_id + i) % 7 = 0
             THEN 'image' || chr(31) || chr(0) || 'N' || chr(31)
                  || 'media://image/' || CAST((d.doc_id * 31 + i) % 100000 AS VARCHAR)
             ELSE 'text' || chr(31) || substr(d.text, CAST(i * 64 + 1 AS INT), 64)
                  || chr(31) || chr(0) || 'N' END),
      chr(30))
    || CASE WHEN c.copy = 1 AND d.doc_id % 200 = 0
            THEN chr(30) || 'text' || chr(31) || 'variant' || chr(31) || chr(0) || 'N'
            ELSE '' END AS span_seq
  FROM documents d
  JOIN (SELECT unnest(range(0, 3)) AS copy) c
    ON c.copy = 0
    OR (c.copy = 1 AND d.doc_id % 100 = 0)
    OR (c.copy = 2 AND d.doc_id % 1000 = 0)
)
"""


def _documents_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return d.unionByName(dup)


DOCUMENTS_PLANTED_SQL = """
documents_planted AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 50 = 0
)
"""


def _r(col, n: int = 6) -> Column:
    return F.round(col, n)


# ---------------------------------------------------------------------------
# queries


def q_ucc_lineitem_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.ucc import ucc_check

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = ucc_check(li, ["l_orderkey", "l_linenumber"], num_partitions=32).summary()
    return s.select(
        "holds",
        "n_rows",
        "n_distinct",
        "n_violating_clusters",
        "n_violating_rows",
        "violating_pairs",
        _r(F.col("aucc_error"), 9).alias("aucc_error"),
    )


SQL_UCC_LINEITEM_PK = """
WITH g AS (
  SELECT count(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber
)
SELECT
  sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) = 0 AS holds,
  CAST(sum(cnt) AS BIGINT) AS n_rows,
  count(*) AS n_distinct,
  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_clusters,
  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_violating_rows,
  CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS violating_pairs,
  round(sum(cnt * (cnt - 1)) * 1.0 / (sum(cnt) * (sum(cnt) - 1)), 9) AS aucc_error
FROM g
"""


def q_ucc_violations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.ucc import ucc_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = ucc_check(
        o, ["o_custkey"], num_partitions=32, violation_cap=50
    ).violations()
    return v.select("o_custkey", "cluster_size")


SQL_UCC_VIOLATIONS_ORDERS = """
SELECT o_custkey, count(*) AS cluster_size
FROM orders GROUP BY o_custkey HAVING count(*) > 1
"""


def q_ucc_docs_doc_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.ucc import ucc_check

    ds = _docs_spans(spark, sf_dir)
    s = ucc_check(ds, ["doc_id"], num_partitions=32).summary()
    return s.select(
        "holds",
        "n_rows",
        "n_distinct",
        "n_violating_clusters",
        "n_violating_rows",
        "violating_pairs",
        _r(F.col("aucc_error"), 9).alias("aucc_error"),
    )


SQL_UCC_DOCS_DOC_ID = f"""
WITH {DOCS_SPANS_SQL.strip()},
g AS (SELECT count(*) AS cnt FROM docs_spans GROUP BY doc_id)
SELECT
  sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) = 0 AS holds,
  CAST(sum(cnt) AS BIGINT) AS n_rows,
  count(*) AS n_distinct,
  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_clusters,
  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_violating_rows,
  CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS violating_pairs,
  round(sum(cnt * (cnt - 1)) * 1.0 / (sum(cnt) * (sum(cnt) - 1)), 9) AS aucc_error
FROM g
"""


def q_fd_docs_span_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD doc_id -> span_seq over the interleaved view: broken exactly at the
    variant-span duplicates (doc_id % 200 == 0)."""
    from pyspark_validator.canonical import span_seq_expr
    from pyspark_validator.checks.fd import fd_check

    ds = _docs_spans(spark, sf_dir).withColumn("span_seq", span_seq_expr("spans"))
    s = fd_check(ds, ["doc_id"], ["span_seq"], num_partitions=32).summary()
    return s.select(
        "holds",
        "n_rows",
        "n_distinct_x",
        "n_distinct_xy",
        "n_error_clusters",
        "n_error_rows",
        "conflict_pairs",
        _r(F.col("g1_error"), 9).alias("g1_error"),
    )


SQL_FD_DOCS_SPAN_SEQ = f"""
WITH {DOCS_SPANS_SQL.strip()},
xy AS (SELECT doc_id, span_seq, count(*) AS ycnt FROM docs_spans GROUP BY doc_id, span_seq),
x AS (
  SELECT doc_id, sum(ycnt) AS cx, count(*) AS ndy, sum(ycnt * (ycnt - 1)) AS ypairs
  FROM xy GROUP BY doc_id
)
SELECT
  sum(CASE WHEN ndy > 1 THEN 1 ELSE 0 END) = 0 AS holds,
  CAST(sum(cx) AS BIGINT) AS n_rows,
  count(*) AS n_distinct_x,
  CAST(sum(ndy) AS BIGINT) AS n_distinct_xy,
  CAST(sum(CASE WHEN ndy > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_error_clusters,
  CAST(sum(CASE WHEN ndy > 1 THEN cx ELSE 0 END) AS BIGINT) AS n_error_rows,
  CAST(sum(cx * (cx - 1) - ypairs) AS BIGINT) AS conflict_pairs,
  round(sum(cx * (cx - 1) - ypairs) * 1.0 / (sum(cx) * sum(cx) - sum(cx)), 9) AS g1_error
FROM x
"""


def q_fd_holds_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.fd import fd_check

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    s = fd_check(n, ["n_nationkey"], ["n_regionkey"], num_partitions=8).summary()
    return s.select("holds", "n_rows", "n_distinct_x", "n_distinct_xy", "n_error_clusters")


SQL_FD_HOLDS_NATION = """
WITH xy AS (SELECT n_nationkey, n_regionkey, count(*) AS ycnt FROM nation GROUP BY 1, 2),
x AS (SELECT n_nationkey, sum(ycnt) AS cx, count(*) AS ndy FROM xy GROUP BY 1)
SELECT
  sum(CASE WHEN ndy > 1 THEN 1 ELSE 0 END) = 0 AS holds,
  CAST(sum(cx) AS BIGINT) AS n_rows, count(*) AS n_distinct_x,
  CAST(sum(ndy) AS BIGINT) AS n_distinct_xy,
  CAST(sum(CASE WHEN ndy > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_error_clusters
FROM x
"""


def q_fd_highlights_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.fd import fd_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    h = fd_check(
        o, ["o_custkey"], ["o_orderpriority"], num_partitions=32, highlight_cap=1_000_000
    ).highlights()
    return h.select(
        "o_custkey",
        "cluster_size",
        "num_distinct_rhs",
        _r(F.col("most_frequent_rhs_proportion"), 9).alias("most_frequent_rhs_proportion"),
    )


SQL_FD_HIGHLIGHTS_ORDERS = """
WITH xy AS (
  SELECT o_custkey, o_orderpriority, count(*) AS ycnt FROM orders GROUP BY 1, 2
),
x AS (
  SELECT o_custkey, CAST(sum(ycnt) AS BIGINT) AS cluster_size,
         count(*) AS num_distinct_rhs, max(ycnt) AS maxy
  FROM xy GROUP BY 1
)
SELECT o_custkey, cluster_size, num_distinct_rhs,
       round(maxy * 1.0 / cluster_size, 9) AS most_frequent_rhs_proportion
FROM x WHERE num_distinct_rhs > 1
"""


def q_afd_measures_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.fd import fd_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = fd_check(o, ["o_custkey"], ["o_orderpriority"], num_partitions=32).afd_measures()
    return m.select(
        _r(F.col("g1"), 9).alias("g1"),
        _r(F.col("g2"), 9).alias("g2"),
        _r(F.col("pdep"), 9).alias("pdep"),
        _r(F.col("tau"), 9).alias("tau"),
        _r(F.col("mu_plus"), 9).alias("mu_plus"),
        _r(F.col("rho"), 9).alias("rho"),
        _r(F.col("fi"), 9).alias("fi"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_distinct_x").cast("long").alias("n_distinct_x"),
        F.col("n_distinct_xy").cast("long").alias("n_distinct_xy"),
    )


SQL_AFD_MEASURES_ORDERS = """
WITH xy AS (
  SELECT o_custkey AS x, o_orderpriority AS y, count(*) AS cxy FROM orders GROUP BY 1, 2
),
x AS (SELECT x, sum(cxy) AS cx, count(*) AS ndy, sum(cxy * (cxy - 1)) AS ypairs,
             sum(cxy * ln(cxy)) AS y_ln FROM xy GROUP BY 1),
yl AS (SELECT sum(cy * cy) AS sum_cy2, sum(cy * ln(cy)) AS sum_cy_ln, count(*) AS ky
       FROM (SELECT count(*) AS cy FROM orders GROUP BY o_orderpriority)),
agg AS (
  SELECT sum(cx) AS n, count(*) AS kx, sum(ndy) AS kxy,
         sum(cx * (cx - 1) - ypairs) AS conflict_pairs,
         sum(CASE WHEN ndy > 1 THEN cx ELSE 0 END) AS g2_rows,
         sum((ypairs + cx) * 1.0 / cx) AS pdep_num,
         sum(y_ln) AS sum_cxy_ln,
         sum(cx * ln(cx)) AS sum_cx_ln
  FROM x
)
SELECT
  round(conflict_pairs * 1.0 / (n * n - n), 9) AS g1,
  round(g2_rows * 1.0 / n, 9) AS g2,
  round(pdep_num / n, 9) AS pdep,
  round(CASE WHEN sum_cy2 * 1.0 / (n * n) = 1 THEN 1
        ELSE (pdep_num / n - sum_cy2 * 1.0 / (n * n)) / (1 - sum_cy2 * 1.0 / (n * n)) END, 9) AS tau,
  round(CASE WHEN sum_cy2 * 1.0 / (n * n) = 1 OR kx = n THEN 1
        ELSE greatest(0, 1 - (1 - pdep_num / n) / (1 - sum_cy2 * 1.0 / (n * n)) * (n - 1) / (n - kx)) END, 9) AS mu_plus,
  round(kx * 1.0 / kxy, 9) AS rho,
  round(CASE WHEN ky < 2 THEN 0
        ELSE ((ln(n) - sum_cy_ln / n) - (-(sum_cxy_ln - sum_cx_ln) / n))
             / (ln(n) - sum_cy_ln / n) END, 9) AS fi,
  CAST(n AS BIGINT) AS n_rows, kx AS n_distinct_x,
  CAST(kxy AS BIGINT) AS n_distinct_xy
FROM agg, yl
"""


def q_pfd_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.fd import fd_check

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    c = fd_check(li, ["l_partkey"], ["l_suppkey"], num_partitions=32)
    # both measures from ONE aggregation pass (pfd_measures)
    return c.pfd_measures().select(
        _r(F.col("error_per_tuple"), 9).alias("error_per_tuple"),
        "n_violating_clusters",
        "n_violating_rows",
        _r(F.col("error_per_value"), 9).alias("error_per_value"),
    )


SQL_PFD_LINEITEM = """
WITH xy AS (SELECT l_partkey AS x, l_suppkey AS y, count(*) AS cxy FROM lineitem GROUP BY 1, 2),
x AS (SELECT x, sum(cxy) AS cx, max(cxy) AS maxy FROM xy GROUP BY 1)
SELECT
  round(1 - sum(maxy) * 1.0 / sum(cx), 9) AS error_per_tuple,
  CAST(sum(CASE WHEN cx > 1 AND maxy != cx THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_clusters,
  CAST(sum(cx - maxy) AS BIGINT) AS n_violating_rows,
  round(1 - sum(maxy * 1.0 / cx) / count(*), 9) AS error_per_value
FROM x
"""


def q_ind_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.ind import ind_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = ind_check(o, ["o_custkey"], c, ["c_custkey"]).summary()
    return s.select(
        "holds",
        "n_violating_clusters",
        "n_violating_rows",
        _r(F.col("error"), 9).alias("error"),
        "n_distinct_lhs",
        "n_rows_lhs",
    )


SQL_IND_ORDERS_CUSTOMER = """
WITH l AS (SELECT o_custkey AS k, count(*) AS occ FROM orders GROUP BY 1),
m AS (SELECT * FROM l WHERE k NOT IN (SELECT c_custkey FROM customer))
SELECT
  (SELECT count(*) FROM m) = 0 AS holds,
  (SELECT count(*) FROM m) AS n_violating_clusters,
  CAST((SELECT coalesce(sum(occ), 0) FROM m) AS BIGINT) AS n_violating_rows,
  round((SELECT count(*) FROM m) * 1.0 / (SELECT count(*) FROM l), 9) AS error,
  (SELECT count(*) FROM l) AS n_distinct_lhs,
  CAST((SELECT sum(occ) FROM l) AS BIGINT) AS n_rows_lhs
"""


def q_ind_violations_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse direction: customers with no orders are IND violations."""
    from pyspark_validator.checks.ind import ind_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = ind_check(c, ["c_custkey"], o, ["o_custkey"], violation_cap=1_000_000).violations()
    return v.select("c_custkey", "occurrences")


SQL_IND_VIOLATIONS_CUSTOMER_ORDERS = """
SELECT c_custkey, count(*) AS occurrences
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_custkey
"""


def q_ind_binary_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.ind import ind_check

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    s = ind_check(n, ["n_regionkey"], r, ["r_regionkey"]).summary()
    return s.select("holds", "n_violating_clusters", "n_distinct_lhs")


SQL_IND_BINARY_NATION_REGION = """
WITH l AS (SELECT DISTINCT n_regionkey AS k FROM nation),
m AS (SELECT * FROM l WHERE k NOT IN (SELECT r_regionkey FROM region))
SELECT (SELECT count(*) FROM m) = 0 AS holds,
       (SELECT count(*) FROM m) AS n_violating_clusters,
       (SELECT count(*) FROM l) AS n_distinct_lhs
"""


def q_nd_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.nd import nd_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return nd_check(o, ["o_custkey"], ["o_orderpriority"], weight=3, num_partitions=32)


SQL_ND_ORDERS = """
WITH x AS (
  SELECT o_custkey, count(DISTINCT o_orderpriority) AS ndy, count(*) AS cx
  FROM orders GROUP BY 1
)
SELECT max(ndy) <= 3 AS holds, max(ndy) AS real_weight,
       CAST(sum(CASE WHEN ndy > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_clusters,
       CAST(sum(CASE WHEN ndy > 3 THEN cx ELSE 0 END) AS BIGINT) AS n_violating_rows
FROM x
"""


# ---------------------------------------------------------------------------
# stats / drift / text / dedup / similarity queries


def q_stats_numeric_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.stats import numeric_profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = numeric_profile(li, ["l_quantity", "l_discount", "l_tax"], exact_quantiles=True)
    return p.select(
        "column",
        "count",
        "n_nulls",
        "n_distinct",
        _r(F.col("min")).alias("min"),
        _r(F.col("max")).alias("max"),
        _r(F.col("sum"), 4).alias("sum"),
        _r(F.col("avg")).alias("avg"),
        _r(F.col("std")).alias("std"),
        _r(F.col("skewness"), 4).alias("skewness"),
        _r(F.col("kurtosis"), 4).alias("kurtosis"),
        _r(F.col("q25")).alias("q25"),
        _r(F.col("median")).alias("median"),
        _r(F.col("q75")).alias("q75"),
        "n_zeros",
        "n_negatives",
    )


SQL_STATS_NUMERIC_LINEITEM = """
WITH cols AS (
  SELECT 'l_quantity' AS "column", l_quantity AS x FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT
  "column",
  count(x) AS count,
  CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  count(DISTINCT x) AS n_distinct,
  round(min(x), 6) AS min,
  round(max(x), 6) AS max,
  round(sum(x), 4) AS sum,
  round(sum(x) / count(x), 6) AS avg,
  round(sqrt((sum(x * x) - sum(x) * sum(x) / count(x)) / (count(x) - 1)), 6) AS std,
  round((sum(x*x*x)/count(x) - 3*(sum(x)/count(x))*sum(x*x)/count(x) + 2*pow(sum(x)/count(x),3))
        / pow(sum(x*x)/count(x) - pow(sum(x)/count(x),2), 1.5), 4) AS skewness,
  round((sum(x*x*x*x)/count(x) - 4*(sum(x)/count(x))*sum(x*x*x)/count(x)
         + 6*pow(sum(x)/count(x),2)*sum(x*x)/count(x) - 3*pow(sum(x)/count(x),4))
        / pow(sum(x*x)/count(x) - pow(sum(x)/count(x),2), 2), 4) AS kurtosis,
  round(quantile_cont(x, 0.25), 6) AS q25,
  round(quantile_cont(x, 0.5), 6) AS median,
  round(quantile_cont(x, 0.75), 6) AS q75,
  CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros,
  CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negatives
FROM cols GROUP BY "column"
"""


def q_stats_string_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.stats import string_profile

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    p = string_profile(c, ["c_name", "c_mktsegment"])
    return p.select(
        "column",
        "count",
        "n_nulls",
        "n_empties",
        "n_distinct",
        F.col("min_len").cast("long").alias("min_len"),
        F.col("max_len").cast("long").alias("max_len"),
        _r(F.col("avg_len")).alias("avg_len"),
        "total_words",
        "min_value",
        "max_value",
        "n_with_uppercase",
        "n_untrimmed",
        "n_non_ascii",
    )


SQL_STATS_STRING_CUSTOMER = """
WITH cols AS (
  SELECT 'c_name' AS "column", c_name AS s FROM customer
  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer
)
SELECT
  "column",
  count(s) AS count,
  CAST(sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(sum(CASE WHEN s = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empties,
  count(DISTINCT s) AS n_distinct,
  CAST(min(length(s)) AS BIGINT) AS min_len,
  CAST(max(length(s)) AS BIGINT) AS max_len,
  round(avg(length(s)), 6) AS avg_len,
  CAST(sum(CASE WHEN s IS NULL THEN NULL
       WHEN length(trim(s)) = 0 THEN 0
       ELSE array_length(regexp_split_to_array(trim(s), '\\s+')) END) AS BIGINT) AS total_words,
  min(s) AS min_value,
  max(s) AS max_value,
  CAST(sum(CASE WHEN s != lower(s) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_uppercase,
  CAST(sum(CASE WHEN regexp_matches(s, '^\\s|\\s$') THEN 1 ELSE 0 END) AS BIGINT) AS n_untrimmed,
  CAST(sum(CASE WHEN regexp_matches(s, '[^\\x00-\\x7F]') THEN 1 ELSE 0 END) AS BIGINT) AS n_non_ascii
FROM cols GROUP BY "column"
"""


def q_stats_string_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's remaining string getters (data_stats.h:141-212): char
    class totals, whitespace/special-char row counts, per-row space extremes,
    entirely-upper/lower word counts, word-count extremes."""
    from pyspark_validator.checks.stats import string_profile

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    p = string_profile(c, ["c_name", "c_mktsegment"])
    return p.select(
        "column",
        "n_chars",
        "n_digit_chars",
        "n_lowercase_chars",
        "n_uppercase_chars",
        "n_nonletter_chars",
        "n_whitespace_only",
        "n_leading_ws",
        "n_trailing_ws",
        "n_special_rows",
        F.col("min_whitespaces").cast("long").alias("min_whitespaces"),
        F.col("max_whitespaces").cast("long").alias("max_whitespaces"),
        "n_entirely_upper_words",
        "n_entirely_lower_words",
        F.col("min_words").cast("long").alias("min_words"),
        F.col("max_words").cast("long").alias("max_words"),
    )


SQL_STATS_STRING_EXTRAS = """
WITH cols AS (
  SELECT 'c_name' AS "column", c_name AS s FROM customer
  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer
),
f AS (
  SELECT "column", s,
         (s IS NOT NULL AND length(s) > 0) AS ne,
         CASE WHEN s IS NOT NULL AND length(trim(s)) > 0
              THEN regexp_split_to_array(trim(s), '\\s+')
              ELSE [] END AS w
  FROM cols
)
SELECT "column",
  CAST(sum(CASE WHEN ne THEN length(s) ELSE 0 END) AS BIGINT) AS n_chars,
  CAST(sum(CASE WHEN ne THEN length(regexp_extract_all(s, '[0-9]')) ELSE 0 END) AS BIGINT) AS n_digit_chars,
  CAST(sum(CASE WHEN ne THEN length(regexp_extract_all(s, '[a-z]')) ELSE 0 END) AS BIGINT) AS n_lowercase_chars,
  CAST(sum(CASE WHEN ne THEN length(regexp_extract_all(s, '[A-Z]')) ELSE 0 END) AS BIGINT) AS n_uppercase_chars,
  CAST(sum(CASE WHEN ne THEN length(regexp_extract_all(s, '[^A-Za-z]')) ELSE 0 END) AS BIGINT) AS n_nonletter_chars,
  CAST(sum(CASE WHEN ne AND length(trim(s)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_whitespace_only,
  CAST(sum(CASE WHEN regexp_matches(s, '^\\s') THEN 1 ELSE 0 END) AS BIGINT) AS n_leading_ws,
  CAST(sum(CASE WHEN regexp_matches(s, '\\s$') THEN 1 ELSE 0 END) AS BIGINT) AS n_trailing_ws,
  CAST(sum(CASE WHEN ne AND regexp_matches(s, '[@#$%^&!?*_+=~''\\-"]') THEN 1 ELSE 0 END) AS BIGINT) AS n_special_rows,
  CAST(min(CASE WHEN ne THEN length(s) - length(replace(s, ' ', '')) END) AS BIGINT) AS min_whitespaces,
  CAST(max(CASE WHEN ne THEN length(s) - length(replace(s, ' ', '')) END) AS BIGINT) AS max_whitespaces,
  CAST(sum(len(list_filter(w, x -> x = upper(x)))) AS BIGINT) AS n_entirely_upper_words,
  CAST(sum(len(list_filter(w, x -> x = lower(x)))) AS BIGINT) AS n_entirely_lower_words,
  CAST(min(CASE WHEN s IS NOT NULL THEN len(w) END) AS BIGINT) AS min_words,
  CAST(max(CASE WHEN s IS NOT NULL THEN len(w) END) AS BIGINT) AS max_words
FROM f GROUP BY "column"
"""


def q_stats_char_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level stats (vocab / top-k chars / first-last char frequency,
    data_stats.cpp:545,844,1074). top_k_chars joined to a string for a
    stable value-hash; diacritics off (TPC-H text is ASCII; the NFD kernel
    is exercised in tests)."""
    from pyspark_validator.checks.stats import char_stats

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    p = char_stats(c, ["c_name", "c_mktsegment"], k=5, diacritics=False)
    return p.select(
        "column",
        "vocab",
        F.concat_ws("", F.col("top_k_chars")).alias("top_chars"),
        "first_char_freq",
        "last_char_freq",
    )


SQL_STATS_CHAR_CUSTOMER = """
WITH cols AS (
  SELECT 'c_name' AS "column", c_name AS s FROM customer
  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer
),
ne AS (SELECT "column", s FROM cols WHERE s IS NOT NULL AND length(s) > 0),
ch AS (SELECT "column", unnest(string_split(s, '')) AS c FROM ne),
cnt AS (SELECT "column", c, count(*) AS n FROM ch GROUP BY 1, 2),
ranked AS (
  SELECT "column",
         array_to_string(list_sort(list(c)), '') AS vocab,
         array_to_string(list(c ORDER BY n DESC, c ASC)[1:5], '') AS top_chars
  FROM cnt GROUP BY "column"
),
firsts AS (
  SELECT "column", substring(s, 1, 1) AS c, count(*) AS n FROM ne GROUP BY 1, 2
),
lasts AS (
  SELECT "column", substring(s, -1, 1) AS c, count(*) AS n FROM ne GROUP BY 1, 2
),
fbest AS (
  SELECT "column", max(struct_pack(n := n, c := c)) AS m FROM firsts GROUP BY 1
),
lbest AS (
  SELECT "column", max(struct_pack(n := n, c := c)) AS m FROM lasts GROUP BY 1
)
SELECT r."column" AS "column", r.vocab, r.top_chars,
       f.m.c || ':' || CAST(f.m.n AS VARCHAR) AS first_char_freq,
       l.m.c || ':' || CAST(l.m.n AS VARCHAR) AS last_char_freq
FROM ranked r
JOIN fbest f ON r."column" = f."column"
JOIN lbest l ON r."column" = l."column"
"""


def q_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.stats import topk_values

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return topk_values(ev, "event_type", k=5).withColumnRenamed("value", "event_type")


SQL_TOPK_EVENT_TYPES = """
SELECT event_type, count(*) AS cnt FROM events
GROUP BY event_type ORDER BY cnt DESC, event_type ASC LIMIT 5
"""


def q_entropy_gini_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.stats import entropy_and_gini

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = entropy_and_gini(ev, "event_type")
    return e.select(_r(F.col("entropy"), 9).alias("entropy"), _r(F.col("gini"), 9).alias("gini"))


SQL_ENTROPY_GINI_EVENTS = """
WITH g AS (SELECT count(*) AS cnt FROM events GROUP BY event_type)
SELECT round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 9) AS entropy,
       round(1 - sum(cnt * cnt) * 1.0 / (sum(cnt) * sum(cnt)), 9) AS gini
FROM g
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (pipelines/sessions.py):
    30-minute inactivity gap, per-(user, session) stats. Gap tests and
    durations are integer microsecond arithmetic on both sides — exact."""
    from pyspark_validator.pipelines.sessions import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    st = session_stats(ev, gap_seconds=1800.0)
    return st.select(
        "user_id",
        "session_seq",
        F.col("n_events").cast("bigint").alias("n_events"),
        _r(F.col("duration_sec"), 6).alias("duration_sec"),
    )


SQL_SESSIONIZE_EVENTS = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(date_diff('microsecond', min(ts), max(ts)) / 1000000.0, 6) AS duration_sec
FROM s GROUP BY user_id, session_seq
"""


def q_monotonic_events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.stats import monotonicity

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
    )
    return monotonicity(ev, "ts_ms", "event_id")


SQL_MONOTONIC_EVENTS_TS = """
WITH d AS (
  SELECT epoch_ms(ts) - lag(epoch_ms(ts)) OVER (ORDER BY event_id) AS delta FROM events
)
SELECT min(delta) >= 0 AS monotonic_asc, max(delta) <= 0 AS monotonic_desc
FROM d WHERE delta IS NOT NULL
"""


def q_drift_categorical_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.drift import categorical_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.filter(F.col("event_id") % 2 == 0)
    c = ev.filter(F.col("event_id") % 2 == 1)
    d = categorical_drift(b, c, "event_type")
    return d.select(
        _r(F.col("psi"), 9).alias("psi"),
        _r(F.col("chi2"), 9).alias("chi2"),
        "n_b",
        "n_c",
        "n_buckets",
        "drift_detected",
    )


SQL_DRIFT_CATEGORICAL_EVENTS = """
WITH counts AS (
  SELECT event_type,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM events GROUP BY event_type
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k FROM counts)
SELECT
  round(sum(((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
        * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k)))), 9) AS psi,
  round(sum(CASE WHEN (cnt_b + cnt_c) > 0 THEN
        pow(cnt_b - (cnt_b + cnt_c) * 1.0 / (n_b + n_c) * n_b, 2) / ((cnt_b + cnt_c) * 1.0 / (n_b + n_c) * n_b)
      + pow(cnt_c - (cnt_b + cnt_c) * 1.0 / (n_b + n_c) * n_c, 2) / ((cnt_b + cnt_c) * 1.0 / (n_b + n_c) * n_c)
      ELSE 0 END), 9) AS chi2,
  CAST(any_value(n_b) AS BIGINT) AS n_b, CAST(any_value(n_c) AS BIGINT) AS n_c,
  any_value(k) AS n_buckets,
  sum(((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
      * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k)))) > 0.2 AS drift_detected
FROM counts, tot
"""


def q_drift_numeric_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.drift import numeric_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.filter(F.col("event_id") % 2 == 0)
    c = ev.filter(F.col("event_id") % 2 == 1)
    d = numeric_drift(b, c, "value", num_bins=30, bin_edges=(0.0, 600.0))
    return d.select(
        _r(F.col("psi"), 9).alias("psi"),
        _r(F.col("ks_stat"), 9).alias("ks_stat"),
        "n_b",
        "n_c",
        "drift_detected",
    )


SQL_DRIFT_NUMERIC_EVENTS = """
WITH binned AS (
  SELECT least(greatest(CAST(floor(value / 20.0) AS BIGINT), -1), 30) AS bucket,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k FROM binned),
psi AS (
  SELECT sum(((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
         * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k)))) AS psi_v,
         any_value(n_b) AS n_b, any_value(n_c) AS n_c
  FROM binned, tot
),
cum AS (
  SELECT abs(sum(cnt_b) OVER (ORDER BY bucket) * 1.0 / t.n_b
           - sum(cnt_c) OVER (ORDER BY bucket) * 1.0 / t.n_c) AS term
  FROM binned, tot t
)
SELECT round(psi_v, 9) AS psi,
       round((SELECT max(term) FROM cum), 9) AS ks_stat,
       CAST(n_b AS BIGINT) AS n_b, CAST(n_c AS BIGINT) AS n_c,
       (psi_v > 0.2 OR (SELECT max(term) FROM cum) > 0.1) AS drift_detected
FROM psi
"""


def q_drift_numeric_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group numeric drift: PSI/KS of `value` per event_type between
    even/odd event ids (the per-partition drift shape from the north star)."""
    from pyspark_validator.checks.drift import numeric_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.filter(F.col("event_id") % 2 == 0)
    c = ev.filter(F.col("event_id") % 2 == 1)
    d = numeric_drift(
        b, c, "value", by=["event_type"], num_bins=20, bin_edges=(0.0, 600.0)
    )
    return d.select(
        "event_type",
        _r(F.col("psi"), 9).alias("psi"),
        _r(F.col("ks_stat"), 9).alias("ks_stat"),
        "n_b",
        "n_c",
    )


SQL_DRIFT_NUMERIC_BY_TYPE = """
WITH binned AS (
  SELECT event_type,
         least(greatest(CAST(floor(value / 30.0) AS BIGINT), -1), 20) AS bucket,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k
  FROM binned GROUP BY 1
),
j AS (SELECT binned.*, tot.n_b, tot.n_c, tot.k FROM binned JOIN tot USING (event_type)),
psi AS (
  SELECT event_type,
         sum(((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
             * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k)))) AS psi_v,
         any_value(n_b) AS n_b, any_value(n_c) AS n_c
  FROM j GROUP BY 1
),
cum AS (
  SELECT event_type,
         abs(sum(cnt_b) OVER (PARTITION BY event_type ORDER BY bucket) * 1.0 / n_b
           - sum(cnt_c) OVER (PARTITION BY event_type ORDER BY bucket) * 1.0 / n_c) AS term
  FROM j
),
ks AS (SELECT event_type, max(term) AS ks_v FROM cum GROUP BY 1)
SELECT psi.event_type AS event_type, round(psi_v, 9) AS psi, round(ks_v, 9) AS ks_stat,
       CAST(n_b AS BIGINT) AS n_b, CAST(n_c AS BIGINT) AS n_c
FROM psi JOIN ks ON psi.event_type = ks.event_type
"""


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.pipelines.text import token_counts

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_counts(d).select("doc_id", "n_ws_tokens", "n_bpe_tokens")


SQL_TEXT_TOKEN_COUNTS = """
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL
       WHEN length(trim(text)) = 0 THEN 0
       ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens,
  CASE WHEN text IS NULL THEN NULL
       ELSE length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) END AS n_bpe_tokens
FROM documents
"""


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.pipelines.text import language_id

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        language_id(d)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumnRenamed("lang", "detected_lang")
    )


_LANG_SQL_SCORES = {
    "en": "the|and|of|to|in|is|that|it|was|for",
    "de": "der|die|und|das|ist|nicht|ein|mit|sich|auf",
    "fr": "le|la|les|et|de|un|une|est|que|pour",
    "es": "el|la|los|de|que|y|en|un|es|por",
    "it": "il|la|di|che|e|un|per|non|sono|una",
}

SQL_TEXT_LANGUAGE_ID = (
    "WITH s AS (SELECT "
    + ", ".join(
        "len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), "
        f"x -> x IN ({', '.join(repr(w) for w in pat.split('|'))}))) AS s_{lang}"
        for lang, pat in _LANG_SQL_SCORES.items()
    )
    + ", greatest("
    + ", ".join(f"s_{lang}" for lang in _LANG_SQL_SCORES)
    + ") AS best FROM documents), lab AS (SELECT CASE "
    + " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'"
        for lang in _LANG_SQL_SCORES
    )
    + " ELSE 'und' END AS detected_lang FROM s) "
    "SELECT detected_lang, count(*) AS cnt FROM lab GROUP BY detected_lang"
)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.pipelines.text import quality_score

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    q = quality_score(d)
    return q.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        _r(F.col("punct_ratio"), 9).alias("punct_ratio"),
        _r(F.col("stopword_ratio"), 9).alias("stopword_ratio"),
        _r(F.col("repetition_ratio"), 9).alias("repetition_ratio"),
        _r(F.col("quality"), 9).alias("quality"),
    )


_EN_STOP_PAT = "the|and|of|to|in|is|that|it|was|for"

SQL_TEXT_QUALITY = f"""
WITH f AS (
  SELECT doc_id,
    length(text) AS n_chars,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
    length(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS punct,
    length(regexp_extract_all(text, '[0-9]')) AS digit,
    length(regexp_extract_all(lower(text), '\\b({_EN_STOP_PAT})\\b')) AS stop,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE array_length(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) END AS n_distinct_tok
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id, n_chars, n_tok,
    CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars ELSE 0 END AS punct_ratio,
    CASE WHEN n_chars > 0 THEN digit * 1.0 / n_chars ELSE 0 END AS digit_ratio,
    CASE WHEN n_tok > 0 THEN stop * 1.0 / n_tok ELSE 0 END AS stopword_ratio,
    1.0 - CASE WHEN n_tok > 0 THEN n_distinct_tok * 1.0 / n_tok ELSE 0 END AS repetition_ratio
  FROM f
)
SELECT doc_id, n_chars, n_tok AS n_ws_tokens,
  round(punct_ratio, 9) AS punct_ratio,
  round(stopword_ratio, 9) AS stopword_ratio,
  round(repetition_ratio, 9) AS repetition_ratio,
  round(greatest(0.0, least(1.0,
      least(n_tok / 5.0, 1.0)
    * least(1.0, 3.0 * (1.0 - punct_ratio) - 2.0)
    * least(1.0, 3.0 * (1.0 - digit_ratio) - 2.0)
    * least(1.0, 0.5 + 2.0 * stopword_ratio)
    * greatest(0.0, 1.0 - repetition_ratio))), 9) AS quality
FROM r
"""


def q_text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity scoring (pipelines/text.py::lm_quality) -- the
    deterministic CCNet-style quality filter: train an additive-smoothed
    unigram LM on the corpus itself (top-500 vocab, alpha=0.5), score every
    document's mean negative log-likelihood. Train = one groupBy(token) +
    TakeOrderedAndProject cap; score = broadcast lm join + one groupBy(doc)."""
    from pyspark_validator.pipelines.text import lm_quality

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = lm_quality(d, vocab_size=500, alpha=0.5)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r(F.col("nll"), 9).alias("nll"),
    )


SQL_TEXT_LM_QUALITY = """
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(w) AS token FROM words
),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
cnt AS (SELECT token, count(*) AS c FROM tok2 GROUP BY token),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total, count(*) AS vdist FROM cnt),
params AS (SELECT total + 0.5 * (least(vdist, 500) + 1) AS denom FROM tot),
ranked AS (
  SELECT token, c, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rn FROM cnt
),
lm AS (
  SELECT token, ln((c + 0.5) / denom) AS logp FROM ranked, params WHERE rn <= 500
),
scored AS (
  SELECT t.doc_id,
         coalesce(lm.logp, (SELECT ln(0.5 / denom) FROM params)) AS lp
  FROM tok2 t LEFT JOIN lm USING (token)
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(-lp), 9) AS nll
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       a.nll
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


def q_containment_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (pipelines/dedup.py::containment_pairs):
    plants a 12-word prefix "quotation" of every 50th document as a new short
    doc -- containment 1.0 against its source while Jaccard stays far below
    threshold -- and returns all pairs with overlap coefficient >= 0.9."""
    from pyspark_validator.pipelines.dedup import containment_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    quotes = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(words, 1, 12), " ").alias("text"),
    )
    full = d.select("doc_id", "text").unionByName(quotes)
    p = containment_pairs(
        full, text_col="text", id_col="doc_id", k=3, threshold=0.9, max_df=2**31 - 1
    )
    return p.select(
        "id_a",
        "id_b",
        _r(F.col("containment"), 9).alias("containment"),
        _r(F.col("jaccard"), 9).alias("jaccard"),
    )


SQL_CONTAINMENT_PLANTED = """
WITH full_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(
           (regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))[1:12],
           ' ') AS text
  FROM documents WHERE doc_id % 50 = 0
),
words AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM full_docs
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(array_length(w) - 3, 0) + 1),
           i -> array_to_string(w[i+1:i+3], ' ')))) AS shingle
  FROM words
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(common * 1.0 / least(sa.n_sh, sb.n_sh), 9) AS containment,
       round(common * 1.0 / (sa.n_sh + sb.n_sh - common), 9) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.9
"""


def q_dedup_exact_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.pipelines.dedup import exact_duplicates

    d = _documents_planted(spark, sf_dir)
    return exact_duplicates(d, text_col="text", id_col="doc_id").select(
        "representative", "cluster_size"
    )


SQL_DEDUP_EXACT_PLANTED = f"""
WITH {DOCUMENTS_PLANTED_SQL.strip()},
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents_planted
)
SELECT min(doc_id) AS representative, count(*) AS cluster_size
FROM norm GROUP BY t HAVING count(*) > 1
"""


def q_dedup_snm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood-method blocking (pipelines/dedup.py::
    snm_dedup_candidates; reference expert dedupe scenario,
    examples/expert/dedupe.py sorted-window comparison): candidate pairs
    within a window of 4 under ORDER BY (source||US||lang, doc_id). The
    oracle replays the exact rank/window algebra with ROW_NUMBER."""
    from pyspark_validator.pipelines.dedup import snm_dedup_candidates

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return snm_dedup_candidates(
        d, ["source", "lang"], window=4, id_col="doc_id", partitions=16
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("rank_a").cast("bigint").alias("rank_a"),
        F.col("rank_b").cast("bigint").alias("rank_b"),
    )


SQL_DEDUP_SNM_DOCS = """
WITH r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY source || chr(31) || lang, doc_id) - 1 AS rnk
  FROM documents
)
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(a.rnk AS BIGINT) AS rank_a,
       CAST(b.rnk AS BIGINT) AS rank_b
FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4
"""


def q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact keep-one policy: the surviving doc_ids (min id per
    normalized content)."""
    from pyspark_validator.pipelines.dedup import dedup_exact

    d = _documents_planted(spark, sf_dir)
    return dedup_exact(d, text_col="text", id_col="doc_id").select("doc_id")


SQL_DEDUP_KEEP_ONE = f"""
WITH {DOCUMENTS_PLANTED_SQL.strip()},
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents_planted
),
r AS (
  SELECT doc_id, row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn FROM norm
)
SELECT doc_id FROM r WHERE rn = 1
"""


def q_cc_clusters_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components dedup clustering over a CHAIN pair list: within
    each planted exact-dup group, only consecutive (sorted) doc_id pairs are
    emitted, so the operator must close the transitive chain to recover the
    group. Oracle: cluster_id = min(doc_id) over the normalized-content group
    (singletons map to themselves)."""
    from pyspark.sql import Window

    from pyspark_validator.pipelines.dedup import dedup_clusters

    d = _documents_planted(spark, sf_dir)
    norm = d.select(
        "doc_id",
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("t"),
    )
    w = Window.partitionBy("t").orderBy("doc_id")
    pairs = (
        norm.withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    return dedup_clusters(d, pairs, id_col="doc_id").select("doc_id", "cluster_id")


SQL_CC_CLUSTERS_PLANTED = f"""
WITH {DOCUMENTS_PLANTED_SQL.strip()},
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents_planted
)
SELECT doc_id, min(doc_id) OVER (PARTITION BY t) AS cluster_id FROM norm
"""


def q_cc_keep_best_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-best dedup (pipelines/dedup.py::cluster_keep_best):
    the same transitive chain pairs as cc_clusters_planted, but the survivor
    of each cluster is the argmax of a quality score (here the deterministic
    pmod(doc_id, 7)) with smallest-id tie-break — the keep policy a curation
    pipeline wants (retain the best copy, not an arbitrary one). Oracle:
    ROW_NUMBER over the normalized-content group ordered by score desc, id asc."""
    from pyspark.sql import Window

    from pyspark_validator.pipelines.dedup import cluster_keep_best

    d = _documents_planted(spark, sf_dir)
    norm = d.select(
        "doc_id",
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("t"),
    )
    w = Window.partitionBy("t").orderBy("doc_id")
    pairs = (
        norm.withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    out = cluster_keep_best(d, pairs, F.pmod(F.col("doc_id"), F.lit(7)), id_col="doc_id")
    return out.select("doc_id")


SQL_CC_KEEP_BEST_PLANTED = f"""
WITH {DOCUMENTS_PLANTED_SQL.strip()},
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents_planted
),
r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY t ORDER BY (doc_id % 7) DESC, doc_id ASC) AS rk
  FROM norm
)
SELECT doc_id FROM r WHERE rk = 1
"""


def q_ngram_jaccard_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.pipelines.dedup import ngram_jaccard_pairs

    d = _documents_planted(spark, sf_dir)
    p = ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=3, threshold=0.9, max_df=2**31 - 1
    )
    return p.select("id_a", "id_b", _r(F.col("jaccard"), 9).alias("jaccard"))


SQL_NGRAM_JACCARD_PLANTED = f"""
WITH {DOCUMENTS_PLANTED_SQL.strip()},
words AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents_planted
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(array_length(w) - 3, 0) + 1),
           i -> array_to_string(w[i+1:i+3], ' ')))) AS shingle
  FROM words
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(common * 1.0 / (sa.n_sh + sb.n_sh - common), 9) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.9
"""


def q_prefix_jaccard_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT Jaccard join (pipelines/dedup.py::
    prefix_jaccard_pairs, SSJoin/PPJoin family): indexes only each doc's
    (1-t)|d|+1 rarest shingles for candidate generation, verifies exactly.
    Output is identical to the exhaustive inverted-index join, so the oracle
    is the same exact-Jaccard SQL as ngram_jaccard_planted."""
    from pyspark_validator.pipelines.dedup import prefix_jaccard_pairs

    d = _documents_planted(spark, sf_dir)
    p = prefix_jaccard_pairs(d, text_col="text", id_col="doc_id", k=3, threshold=0.9)
    return p.select("id_a", "id_b", _r(F.col("jaccard"), 9).alias("jaccard"))


def q_minhash_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with exact-Jaccard verification. With
    verify=True the output is the true jaccard >= 0.9 pair set restricted to
    LSH candidates; at these parameters (64 hashes, 16 bands, threshold 0.9)
    banding recall over the planted duplicates is total, so the result equals
    the exhaustive n-gram Jaccard oracle (same SQL as ngram_jaccard_planted)."""
    from pyspark_validator.pipelines.dedup import minhash_lsh_pairs

    d = _documents_planted(spark, sf_dir)
    return minhash_lsh_pairs(
        d, text_col="text", id_col="doc_id", k=3, threshold=0.9, verify=True
    ).select("id_a", "id_b", _r(F.col("jaccard"), 9).alias("jaccard"))


def q_dedup_delta_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus MinHash dedup (pipelines/dedup.py::delta_dedup_minhash):
    the crawl-increment scenario — dedup new docs against the standing corpus
    via its band index, never re-pairing the corpus. Delta = exact copies of
    every 40th doc (identical signatures => banding recall 1 => dropped) plus
    word-REVERSED texts of doc_id % 40 == 1 (shingle sets near-disjoint from
    every corpus doc => kept; a <=1-word doc whose reversal equals itself is an
    exact match on BOTH sides). No non-identical cross pair reaches Jaccard
    0.9 in the test data (the ngram_jaccard_planted invariant), so survivors
    == delta rows with no exact normalized-text match in the corpus — the
    closed-form oracle."""
    from pyspark_validator.pipelines.dedup import delta_dedup_minhash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    reversed_docs = d.filter(F.col("doc_id") % 40 == 1).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
    )
    delta = copies.unionByName(reversed_docs)
    clean = delta_dedup_minhash(d, delta, k=3, threshold=0.9)
    return clean.select("doc_id")


SQL_DEDUP_DELTA_MINHASH = r"""
WITH delta AS (
  SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 40 = 0
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id,
         array_to_string(list_reverse(str_split(text, ' ')), ' ') AS text
  FROM documents WHERE doc_id % 40 = 1
),
cn AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
)
SELECT d.doc_id FROM delta d
WHERE trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')) NOT IN (SELECT t FROM cn)
"""


def q_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-bucketed exact dedup: simhash banding proposes candidates
    (hamming == 0), an exact normalized-text confirm keeps true duplicates.
    The confirm makes the query oracle-checkable: raw hamming-0 output also
    (correctly) surfaces near-identical docs whose per-bit majorities tie --
    a deterministic function of xxhash64 with no SQL equivalent -- and that
    raw behavior stays covered by tests/test_pipelines.py. Exact duplicates
    always share all bands, so recall of the confirm stage is total."""
    from pyspark_validator.pipelines.dedup import simhash_pairs
    from pyspark_validator.pipelines.text import normalize_text

    d = _documents_planted(spark, sf_dir)
    pairs = simhash_pairs(d, text_col="text", id_col="doc_id", max_hamming=0)
    norm = d.select(
        F.col("doc_id").alias("id"), normalize_text(F.col("text")).alias("norm")
    )
    return (
        pairs.join(norm.withColumnRenamed("id", "id_a").withColumnRenamed("norm", "na"), on="id_a")
        .join(norm.withColumnRenamed("id", "id_b").withColumnRenamed("norm", "nb"), on="id_b")
        .filter(F.col("na") == F.col("nb"))
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
    )


SQL_SIMHASH_PLANTED = f"""
WITH {DOCUMENTS_PLANTED_SQL.strip()},
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents_planted
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
FROM norm a JOIN norm b ON a.t = b.t AND a.doc_id < b.doc_id
"""


def q_similarity_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.pipelines.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).select("embedding").collect()[0][0]
    t = brute_force_topk(emb, list(q), k=10)
    return t.select(F.col("id").alias("vec_id"), _r(F.col("cosine")).alias("cosine"))


SQL_SIMILARITY_BRUTE_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)
SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
FROM embeddings, q
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id ASC
LIMIT 10
"""


def q_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via LSH buckets + exact cosine verify.
    Duplicates are planted as 2x-scaled copies of every 25th vector: same
    direction => cosine exactly 1 and identical sign-bit bucket, so the
    expected pair set is the closed-form (v, v+1000000, 1.0) list -- that is
    the oracle. No other >= 0.95 pair exists in the sf test data (verified),
    so the equality check is exact."""
    from pyspark_validator.pipelines.similarity import cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda v: v * 2).alias("embedding"),
    )
    planted = emb.select("vec_id", "embedding").unionByName(dup)
    p = cosine_pairs(planted, dim=64, threshold=0.95, num_bits=8)
    return p.select("id_a", "id_b", _r(F.col("cosine")).alias("cosine"))


SQL_EMBEDDING_COSINE_DUPS = """
SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id % 25 = 0
"""


def q_knn_join_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN JOIN (pipelines/similarity.py::knn_join_brute): every 97th
    vector gets its 5 nearest neighbors by cosine (self excluded). The query
    side broadcasts as a numpy matrix; the corpus streams through ONE
    mapInPandas scan (per-batch BLAS matmul + per-batch top-k reduction), so
    only partial winners reach the final per-query window. The oracle is the
    full cross-product ranked in SQL -- feasible because sf embeddings are
    small; the Spark plan never materializes that cross product."""
    from pyspark_validator.pipelines.similarity import knn_join_brute

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 97 == 0)
    r = knn_join_brute(left, emb, k=5, exclude_self=True)
    return r.select(
        "qid",
        F.col("id").alias("vec_id"),
        F.col("rank").cast("bigint").alias("rank"),
        _r(F.col("cosine")).alias("cosine"),
    )


SQL_KNN_JOIN_EMBEDDINGS = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 97 = 0),
s AS (
  SELECT q.qid, e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
  FROM embeddings e, q
  WHERE e.vec_id <> q.qid
)
SELECT qid, vec_id,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS BIGINT)
         AS rank,
       round(c, 6) AS cosine
FROM s
QUALIFY rank <= 5
"""


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf embeddings plus one planted row per conformance-violation class:
    2000001 wrong dim (63 of 64), 2000002 all-NaN, 2000003 all-zero,
    2000004 norm scaled x100 (out of the [0.5, 2] band), 2000005 NULL vector.
    Mirrored verbatim by the oracles' `planted` CTE."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    def pick(src_id: int, new_id: int, fn) -> DataFrame:
        return emb.filter(F.col("vec_id") == src_id).select(
            F.lit(new_id).cast("bigint").alias("vec_id"),
            fn(F.col("embedding")).alias("embedding"),
        )

    nan32 = F.lit(float("nan")).cast("float")
    return (
        emb.unionByName(pick(1, 2000001, lambda e: F.slice(e, 1, 63)))
        .unionByName(pick(2, 2000002, lambda e: F.transform(e, lambda x: nan32)))
        .unionByName(
            pick(3, 2000003, lambda e: F.transform(e, lambda x: F.lit(0.0).cast("float")))
        )
        .unionByName(
            pick(
                4,
                2000004,
                lambda e: F.transform(e, lambda x: (x * F.lit(100.0)).cast("float")),
            )
        )
        .unionByName(pick(5, 2000005, lambda e: F.lit(None).cast("array<float>")))
    )


#: shared by both embedding-conformance oracles: the planted table and the
#: per-row flags, computed with DuckDB list lambdas exactly as schema.py's
#: JVM higher-order functions compute them.
_SQL_EMB_FLAGS = """
planted AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT 2000001, embedding[1:63] FROM embeddings WHERE vec_id = 1
  UNION ALL SELECT 2000002, list_transform(embedding, x -> 'NaN'::FLOAT)
    FROM embeddings WHERE vec_id = 2
  UNION ALL SELECT 2000003, list_transform(embedding, x -> 0.0::FLOAT)
    FROM embeddings WHERE vec_id = 3
  UNION ALL SELECT 2000004, list_transform(embedding, x -> CAST(x * 100.0 AS FLOAT))
    FROM embeddings WHERE vec_id = 4
  UNION ALL SELECT 2000005, NULL::FLOAT[] FROM embeddings WHERE vec_id = 5
),
fl AS (
  SELECT vec_id,
    embedding IS NULL AS f_null,
    (embedding IS NOT NULL AND len(embedding) <> 64) AS f_dim,
    (embedding IS NOT NULL AND len(embedding) = 64
      AND len(list_filter(embedding,
            x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0) AS f_nf,
    CASE WHEN embedding IS NOT NULL AND len(embedding) = 64
      AND len(list_filter(embedding,
            x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) = 0
      THEN sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END AS norm
  FROM planted
)
"""


def q_embedding_conformance_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column conformance summary (schema.py::embedding_conformance):
    ONE map-side-combinable aggregation counting null / wrong-dim / nonfinite
    / zero / out-of-norm-band vectors over the planted table. The media-side
    schema invariant of the interleaved-document north rule."""
    from pyspark_validator.schema import embedding_conformance

    return embedding_conformance(
        _planted_embeddings(spark, sf_dir), dim=64, norm_lo=0.5, norm_hi=2.0
    )


SQL_EMBEDDING_CONFORMANCE_PLANTED = (
    "WITH "
    + _SQL_EMB_FLAGS
    + """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN f_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null_vec,
  CAST(sum(CASE WHEN f_dim THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
  CAST(sum(CASE WHEN f_nf THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
  CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vec,
  CAST(sum(CASE WHEN norm IS NOT NULL AND norm <> 0
                 AND (norm < 0.5 OR norm > 2.0) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_norm_out,
  round(min(norm), 6) AS min_norm,
  round(max(norm), 6) AS max_norm
FROM fl
"""
)


def q_embedding_violations_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-conformance violation ROWS (schema.py::embedding_violations):
    (vec_id, reason), exactly one priority-ordered reason per offending row --
    the violation-row half of the north rule's per-partition verdict +
    violation-rows contract, for the vector column."""
    from pyspark_validator.schema import embedding_violations

    return embedding_violations(
        _planted_embeddings(spark, sf_dir), dim=64, norm_lo=0.5, norm_hi=2.0
    )


SQL_EMBEDDING_VIOLATIONS_PLANTED = (
    "WITH "
    + _SQL_EMB_FLAGS
    + """
SELECT vec_id,
  CASE WHEN f_null THEN 'null_vector'
       WHEN f_dim THEN 'bad_dim'
       WHEN f_nf THEN 'nonfinite'
       WHEN norm = 0 THEN 'zero_vector'
       WHEN norm < 0.5 OR norm > 2.0 THEN 'norm_out' END AS reason
FROM fl
WHERE f_null OR f_dim OR f_nf OR norm = 0 OR norm < 0.5 OR norm > 2.0
"""
)


def q_semantic_dedup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style keep-one over the planted 2x-scaled copies: every
    planted copy (vec_id + 1000000) is the larger id of a cosine-1.0 pair, so
    the surviving id set is exactly the original table -- the closed-form
    oracle."""
    from pyspark_validator.pipelines.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda v: v * 2).alias("embedding"),
    )
    planted = emb.select("vec_id", "embedding").unionByName(dup)
    out = semantic_dedup(planted, dim=64, threshold=0.95, num_bits=8)
    return out.select("vec_id")


SQL_SEMANTIC_DEDUP_PLANTED = """
SELECT vec_id FROM embeddings
"""


def q_semantic_dedup_ivf_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered SemDeDup, the published k-means form (pipelines/similarity.py
    ::semantic_dedup_clustered): unit-normalize, k-means coarse quantizer,
    within-cluster cosine pairs, keep-one. The planted 2x-scaled copies
    normalize to bit-identical unit vectors (powers of two are float-exact),
    so they land in the same cluster deterministically and are always dropped
    -- the surviving set is exactly the original table, the same closed-form
    oracle as the LSH variant. Cross-cluster recall is pinned separately by
    the n_lists=1 == numpy-all-pairs law in tests/test_semdedup_clustered.py."""
    from pyspark_validator.pipelines.similarity import semantic_dedup_clustered

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda v: v * 2).alias("embedding"),
    )
    planted = emb.select("vec_id", "embedding").unionByName(dup)
    out = semantic_dedup_clustered(planted, dim=64, threshold=0.999, n_lists=8, iters=5)
    return out.select("vec_id")


SQL_SEMANTIC_DEDUP_IVF_PLANTED = """
SELECT vec_id FROM embeddings
"""


def q_curation_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + sharding (pipelines/curation.py::
    shuffle_shards): key = md5(id|seed) is the epoch permutation, shard =
    int(key[:8], 16) mod n -- md5 (not xxhash64) so ANY engine re-derives the
    identical layout. The query pins assignment AND within-shard order: per
    shard, the count and the md5 of the comma-joined doc ids sorted by
    shuffle key. The oracle folds the 8 hex digits to an integer in SQL."""
    from pyspark_validator.pipelines.curation import shuffle_shards

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = shuffle_shards(d, n_shards=8, seed="r2")
    ordered_ids = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("shuffle_key"), F.col("doc_id").cast("string").alias("i")))
        ),
        lambda x: x["i"],
    )
    return s.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.md5(F.concat_ws(",", ordered_ids)).alias("ids_md5"),
    )


_HEX8_FOLD = " + ".join(
    f"(strpos('0123456789abcdef', substr(key,{i + 1},1))-1)*{16 ** (7 - i)}"
    for i in range(8)
)

SQL_CURATION_SHUFFLE_SHARDS = f"""
WITH keyed AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|r2') AS key FROM documents
),
sharded AS (
  SELECT doc_id, key, CAST(({_HEX8_FOLD}) % 8 AS BIGINT) AS shard_id FROM keyed
)
SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY key)) AS ids_md5
FROM sharded GROUP BY shard_id
"""


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k at full probe (nprobe = n_lists): scanning every list makes
    IVF exactly equal to brute force, so the brute-force SQL is an exact
    oracle for the whole build/assign/probe/re-rank machinery. The pruned
    configuration (nprobe < n_lists) is recall-tested in
    tests/test_pipelines.py and benchmarked in bench.py."""
    from pyspark_validator.pipelines.similarity import ivf_build, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).select("embedding").collect()[0][0]
    indexed, cents = ivf_build(emb, dim=64, n_lists=8, iters=5)
    t = ivf_topk(indexed, cents, list(q), k=10, nprobe=8)
    return t.select(F.col("id").alias("vec_id"), _r(F.col("cosine")).alias("cosine"))


def q_drift_docs_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift of span kinds between even/odd documents of the
    interleaved view (span-level check on the input_hint shape)."""
    from pyspark_validator.checks.drift import categorical_drift

    ds = _docs_spans(spark, sf_dir)
    kinds = ds.select(
        (F.substring("doc_id", -1, 1).cast("int") % 2).alias("side"),
        F.explode(F.col("spans.kind")).alias("kind"),
    )
    b = kinds.filter(F.col("side") == 0).select("kind")
    c = kinds.filter(F.col("side") == 1).select("kind")
    d = categorical_drift(b, c, "kind")
    return d.select(
        _r(F.col("psi"), 9).alias("psi"),
        "n_b",
        "n_c",
        "n_buckets",
        "drift_detected",
    )


SQL_DRIFT_DOCS_KIND = """
WITH base AS (
  SELECT d.doc_id, d.text, c.copy
  FROM documents d
  JOIN (SELECT unnest(range(0, 3)) AS copy) c
    ON c.copy = 0 OR (c.copy = 1 AND d.doc_id % 100 = 0) OR (c.copy = 2 AND d.doc_id % 1000 = 0)
),
kinds AS (
  SELECT doc_id % 2 AS side,
         CASE WHEN (doc_id + t.i) % 7 = 0 THEN 'image' ELSE 'text' END AS kind
  FROM base, unnest(range(0, greatest(CAST(ceil(length(text) / 64.0) AS INT), 1))) AS t(i)
  UNION ALL
  SELECT doc_id % 2, 'text' FROM base WHERE copy = 1 AND doc_id % 200 = 0
),
counts AS (
  SELECT kind,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM kinds GROUP BY kind
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k FROM counts)
SELECT
  round(sum(((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
        * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k)))), 9) AS psi,
  CAST(any_value(n_b) AS BIGINT) AS n_b, CAST(any_value(n_c) AS BIGINT) AS n_c,
  any_value(k) AS n_buckets,
  sum(((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
      * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k)))) > 0.2 AS drift_detected
FROM counts, tot
"""


def q_stats_deviation_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.stats import deviation_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = deviation_stats(li, ["l_quantity", "l_extendedprice"], exact_median=True)
    return p.select(
        "column",
        _r(F.col("mean_ad")).alias("mean_ad"),
        _r(F.col("median_ad")).alias("median_ad"),
    )


SQL_STATS_DEVIATION_LINEITEM = """
WITH cols AS (
  SELECT 'l_quantity' AS "column", l_quantity AS x FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
),
ctr AS (SELECT "column", avg(x) AS a, quantile_cont(x, 0.5) AS m FROM cols GROUP BY 1)
SELECT cols."column" AS "column",
       round(avg(abs(x - a)), 6) AS mean_ad,
       round(quantile_cont(abs(x - m), 0.5), 6) AS median_ad
FROM cols JOIN ctr ON cols."column" = ctr."column"
GROUP BY cols."column"
"""


def q_pac_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain PAC: Pr(value in [0,500] +- 20) >= 0.9 over events."""
    from pyspark_validator.checks.pac import domain_pac_check, interval_distance

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    c = domain_pac_check(ev, interval_distance(F.col("value"), 0.0, 500.0))
    s = c.holds(epsilon=20.0, delta=0.9)
    return s.select(
        "holds",
        _r(F.col("epsilon")).alias("epsilon"),
        _r(F.col("delta")).alias("delta"),
        _r(F.col("actual_delta"), 9).alias("actual_delta"),
        "n",
        "n_violating_rows",
    )


SQL_PAC_EVENTS_VALUE = """
WITH d AS (
  SELECT greatest(0, 0 - value, value - 500) AS dist FROM events WHERE value IS NOT NULL
)
SELECT avg(CASE WHEN dist <= 20 THEN 1.0 ELSE 0.0 END) >= 0.9 AS holds,
       CAST(20.0 AS DOUBLE) AS epsilon, CAST(0.9 AS DOUBLE) AS delta,
       round(avg(CASE WHEN dist <= 20 THEN 1.0 ELSE 0.0 END), 9) AS actual_delta,
       count(*) AS n,
       CAST(sum(CASE WHEN dist > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_rows
FROM d
"""


# ---------------------------------------------------------------------------
# extended verifier family: MFD / SD / AOD / CFD / AR / DD / DC / CIND


def q_mfd_quantity_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.mfd import mfd_check

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = mfd_check(li, ["l_orderkey"], ["l_quantity"], metric="euclidean", parameter=40.0).summary()
    return s.select(
        "holds",
        "n_clusters",
        "n_violating_clusters",
        "n_violating_rows",
        _r(F.col("max_diameter")).alias("max_diameter"),
    )


SQL_MFD_QUANTITY_ORDERKEY = """
WITH g AS (
  SELECT l_orderkey, count(*) AS c, max(l_quantity) - min(l_quantity) AS d
  FROM lineitem GROUP BY 1
)
SELECT sum(CASE WHEN d > 40 THEN 1 ELSE 0 END) = 0 AS holds,
       count(*) AS n_clusters,
       CAST(sum(CASE WHEN d > 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_clusters,
       CAST(sum(CASE WHEN d > 40 THEN c ELSE 0 END) AS BIGINT) AS n_violating_rows,
       round(max(d), 6) AS max_diameter
FROM g
"""


def q_mfd_levenshtein_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.mfd import mfd_check

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    s = mfd_check(n, ["n_regionkey"], ["n_name"], metric="levenshtein", parameter=5.0).summary()
    return s.select(
        "holds", "n_clusters", "n_violating_clusters", _r(F.col("max_diameter")).alias("max_diameter")
    )


SQL_MFD_LEVENSHTEIN_NATION = """
WITH pairs AS (
  SELECT a.n_regionkey, levenshtein(a.n_name, b.n_name) AS d
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
),
diam AS (SELECT n_regionkey, max(d) AS diameter FROM pairs GROUP BY 1),
allg AS (
  SELECT g.n_regionkey, coalesce(diam.diameter, 0) AS diameter
  FROM (SELECT DISTINCT n_regionkey FROM nation) g
  LEFT JOIN diam ON g.n_regionkey = diam.n_regionkey
)
SELECT sum(CASE WHEN diameter > 5 THEN 1 ELSE 0 END) = 0 AS holds,
       count(*) AS n_clusters,
       CAST(sum(CASE WHEN diameter > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_clusters,
       round(max(diameter) * 1.0, 6) AS max_diameter
FROM allg
"""


def q_sd_events_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.sd import sd_check

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ms")
    )
    s = sd_check(ev, "event_id", "ms", g1=0.0, g2=600000.0, num_partitions=16).summary()
    return s.select(
        "holds",
        "n_gaps",
        "n_deletions",
        "n_insertion_gaps",
        "ops",
        _r(F.col("confidence"), 9).alias("confidence"),
    )


SQL_SD_EVENTS_GAP = """
WITH d AS (
  SELECT epoch_ms(ts) - lag(epoch_ms(ts)) OVER (ORDER BY event_id) AS delta
  FROM events
),
v AS (
  SELECT count(delta) AS n_gaps,
         CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deletions,
         CAST(sum(CASE WHEN delta > 600000 THEN 1 ELSE 0 END) AS BIGINT) AS n_insertion_gaps,
         CAST(sum(CASE WHEN delta < 0 THEN 1
                  WHEN delta > 600000 THEN greatest(CAST(ceil(delta / 600000.0) AS BIGINT) - 1, 1)
                  ELSE 0 END) AS BIGINT) AS ops
  FROM d WHERE delta IS NOT NULL
),
n AS (SELECT count(*) AS n_rows FROM events)
SELECT ops = 0 AS holds, n_gaps, n_deletions, n_insertion_gaps, ops,
       round((n_rows - ops) * 1.0 / n_rows, 9) AS confidence
FROM v, n
"""


def q_aod_ofd_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.od import aod_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = aod_check(o, ["o_custkey"], ofd_right="o_orderpriority").summary()
    return s.select(
        "check",
        "holds",
        "n_rows",
        "n_groups",
        "n_violating_groups",
        "n_removals",
        _r(F.col("error"), 9).alias("error"),
    )


SQL_AOD_OFD_ORDERS = """
WITH vc AS (SELECT o_custkey, o_orderpriority, count(*) AS c FROM orders GROUP BY 1, 2),
g AS (SELECT o_custkey, sum(c) AS sz, sum(c) - max(c) AS rem FROM vc GROUP BY 1)
SELECT 'ofd' AS check, sum(rem) = 0 AS holds, CAST(sum(sz) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN rem > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(sum(rem) AS BIGINT) AS n_removals,
       round(sum(rem) * 1.0 / sum(sz), 9) AS error
FROM g
"""


def q_aod_removal_rows_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OFD removal SET itself (reference verifier.cpp:74-76 semantics, the
    per-row witness a user deletes to make the OD hold): every order whose
    priority is not its customer's most frequent one, deterministic mode
    tie-break toward the smallest value. Top-200 by key for a bounded result."""
    from pyspark_validator.checks.od import aod_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = aod_check(o, ["o_custkey"], ofd_right="o_orderpriority").removal_rows(
        "o_orderkey"
    )
    return (
        rows.select(F.col("row_ref").alias("o_orderkey"))
        .orderBy("o_orderkey")
        .limit(200)
    )


SQL_AOD_REMOVAL_ROWS_ORDERS = """
WITH vc AS (SELECT o_custkey, o_orderpriority, count(*) AS c FROM orders GROUP BY 1, 2),
mx AS (SELECT o_custkey, max(c) AS maxc FROM vc GROUP BY 1),
mode AS (SELECT vc.o_custkey, min(vc.o_orderpriority) AS m
         FROM vc JOIN mx ON vc.o_custkey = mx.o_custkey AND vc.c = mx.maxc
         GROUP BY 1)
SELECT o.o_orderkey
FROM orders o JOIN mode ON o.o_custkey = mode.o_custkey
WHERE o.o_orderpriority IS DISTINCT FROM mode.m
ORDER BY o.o_orderkey
LIMIT 200
"""


def q_aod_oc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OC order-compatibility (o_orderdate ~ o_totalprice within each customer).
    The minimal removal count per group = group size - LNDS of right values in
    (left asc, right asc) order; the oracle spells the LNDS as a recursive-CTE
    chain DP (states (group, pos, len) deduped by UNION -- O(n^2) per group,
    fine at oracle scale; the engine's patience-sorting kernel is the
    distributed path)."""
    from pyspark_validator.checks.od import aod_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_date_ms", F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    )
    s = aod_check(o, ["o_custkey"], oc=("o_date_ms", "o_totalprice")).summary()
    return s.select(
        "check", "holds", "n_rows", "n_groups", "n_violating_groups", "n_removals"
    )


SQL_AOD_OC_ORDERS = r"""
WITH RECURSIVE t AS (
  SELECT o_custkey AS g,
         CAST(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS DOUBLE) AS l,
         CAST(o_totalprice AS DOUBLE) AS r
  FROM orders
),
ranked AS (
  SELECT g, r, row_number() OVER (PARTITION BY g ORDER BY l, r) AS pos FROM t
),
chain AS (
  SELECT g, pos, r, 1 AS len FROM ranked
  UNION
  SELECT rk.g, rk.pos, rk.r, c.len + 1
  FROM chain c JOIN ranked rk ON rk.g = c.g AND rk.pos > c.pos AND rk.r >= c.r
),
per_group AS (SELECT g, max(len) AS lnds FROM chain GROUP BY g),
sizes AS (SELECT g, count(*) AS n FROM t GROUP BY g)
SELECT 'oc' AS "check", sum(n - lnds) = 0 AS holds, CAST(sum(n) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN n > lnds THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(sum(n - lnds) AS BIGINT) AS n_removals
FROM sizes JOIN per_group USING (g)
"""


def q_cfd_orders_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.cfd import cfd_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = cfd_check(
        o,
        [("o_orderstatus", "F"), ("o_custkey", None)],
        ("o_orderpriority", None),
        minsup=100,
        minconf=0.5,
    ).summary()
    return s.select(
        "holds",
        "support",
        _r(F.col("confidence"), 9).alias("confidence"),
        "n_violating_rows",
        "n_violating_clusters",
    )


SQL_CFD_ORDERS_PRIORITY = """
WITH sup AS (SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
xy AS (SELECT o_custkey, o_orderpriority, count(*) AS c FROM sup GROUP BY 1, 2),
x AS (SELECT o_custkey, sum(c) AS sz, max(c) AS maxc FROM xy GROUP BY 1),
tot AS (
  SELECT coalesce(sum(sz), 0) AS support,
         coalesce(sum(sz - maxc), 0) AS viol_rows,
         coalesce(sum(CASE WHEN sz > maxc THEN 1 ELSE 0 END), 0) AS viol_clusters
  FROM x
)
SELECT (support >= 100 AND (CASE WHEN support > 0 THEN 1 - viol_rows * 1.0 / support ELSE 0 END) >= 0.5) AS holds,
       CAST(support AS BIGINT) AS support,
       round(CASE WHEN support > 0 THEN 1 - viol_rows * 1.0 / support ELSE 0 END, 9) AS confidence,
       CAST(viol_rows AS BIGINT) AS n_violating_rows,
       CAST(viol_clusters AS BIGINT) AS n_violating_clusters
FROM tot
"""


def q_ar_events_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR {click} -> {view} over per-user event-type itemsets."""
    from pyspark_validator.checks.ar import ar_check

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = ar_check(
        ev, ["click"], ["view"], tid_col="user_id", item_col="event_type",
        minsup=0.3, minconf=0.5,
    ).summary()
    return s.select(
        "holds",
        _r(F.col("support"), 9).alias("support"),
        _r(F.col("confidence"), 9).alias("confidence"),
        "n_transactions",
        "n_satisfying",
        "n_violating",
    )


SQL_AR_EVENTS_CLICK_VIEW = """
WITH cov AS (
  SELECT user_id,
         count(DISTINCT CASE WHEN event_type = 'click' THEN event_type END) AS nl,
         count(DISTINCT CASE WHEN event_type = 'view' THEN event_type END) AS nr
  FROM events GROUP BY 1
),
agg AS (
  SELECT count(*) AS n_transactions,
         sum(CASE WHEN nl = 1 AND nr = 1 THEN 1 ELSE 0 END) AS n_satisfying,
         sum(CASE WHEN nl = 1 THEN 1 ELSE 0 END) AS n_full_left,
         sum(CASE WHEN nl > 0 AND NOT (nl = 1 AND nr = 1) THEN 1 ELSE 0 END) AS n_violating
  FROM cov
)
SELECT (n_satisfying * 1.0 / n_transactions >= 0.3
        AND CASE WHEN n_full_left > 0 THEN n_satisfying * 1.0 / n_full_left ELSE 0 END >= 0.5) AS holds,
       round(n_satisfying * 1.0 / n_transactions, 9) AS support,
       round(CASE WHEN n_full_left > 0 THEN n_satisfying * 1.0 / n_full_left ELSE 0 END, 9) AS confidence,
       n_transactions, CAST(n_satisfying AS BIGINT) AS n_satisfying,
       CAST(n_violating AS BIGINT) AS n_violating
FROM agg
"""


def q_dd_part_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.dd import dd_check

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = dd_check(
        p, {"p_retailprice": (0.0, 1.0)}, {"p_size": (0.0, 10.0)}, row_ref="p_partkey"
    ).summary()
    return s.select(
        "holds",
        "n_lhs_pairs",
        "n_violating_pairs",
        "num_error_rhs",
        _r(F.col("error"), 9).alias("error"),
    )


SQL_DD_PART_PRICE_SIZE = """
WITH pairs AS (
  SELECT abs(a.p_size - b.p_size) AS ds
  FROM part a JOIN part b
    ON a.p_partkey < b.p_partkey
   AND abs(a.p_retailprice - b.p_retailprice) <= 1.0
)
SELECT sum(CASE WHEN ds > 10 THEN 1 ELSE 0 END) = 0 AS holds,
       count(*) AS n_lhs_pairs,
       CAST(sum(CASE WHEN ds > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_pairs,
       CAST(sum(CASE WHEN ds > 10 THEN 1 ELSE 0 END) AS BIGINT) AS num_error_rhs,
       round(sum(CASE WHEN ds > 10 THEN 1 ELSE 0 END) * 1.0 / count(*), 9) AS error
FROM pairs
"""


def q_dc_orders_price_inversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DC: no two orders of one customer where the earlier costs > 2x the later."""
    from pyspark_validator.checks.dc import dc_check

    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("o_date_ms", F.unix_millis(F.col("o_orderdate").cast("timestamp")))
        # 2x threshold precomputed as a column (predicates reference columns)
        .withColumn("o_big", F.col("o_totalprice") * 2)
    )
    s = dc_check(
        o,
        [
            ("s.o_custkey", "==", "t.o_custkey"),
            ("s.o_date_ms", "<", "t.o_date_ms"),
            ("s.o_totalprice", ">", "t.o_big"),
        ],
        row_ref="o_orderkey",
    )
    return s.summary().select("holds", "n_violating_pairs")


SQL_DC_ORDERS_PRICE_INVERSION = """
SELECT count(*) = 0 AS holds, count(*) AS n_violating_pairs
FROM orders s JOIN orders t
  ON s.o_custkey = t.o_custkey
 AND epoch_ms(s.o_orderdate) < epoch_ms(t.o_orderdate)
 AND s.o_totalprice > 2 * t.o_totalprice
"""


def q_md_nation_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MD over nation: levenshtein(n_name, n_name) >= 0.4 -> equality
    (n_regionkey) >= 1.0 (md_verifier.h:19-46 getter surface; ordered pairs
    incl. reflexive)."""
    from pyspark_validator.checks.md import ColumnMatch, md_check

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    s = md_check(
        n,
        [ColumnMatch("levenshtein", "n_name", "n_name", 0.4)],
        ColumnMatch("equality", "n_regionkey", "n_regionkey", 1.0),
        left_id="n_nationkey",
    ).summary()
    return s.select(
        "holds",
        "n_matching_pairs",
        "n_violating_pairs",
        _r(F.col("true_rhs_boundary"), 9).alias("true_rhs_boundary"),
        _r(F.col("input_rhs_boundary"), 9).alias("input_rhs_boundary"),
    )


SQL_MD_NATION_NAME = """
WITH pairs AS (
  SELECT greatest(length(a.n_name), length(b.n_name)) AS ml,
         levenshtein(a.n_name, b.n_name) AS d,
         CASE WHEN a.n_regionkey = b.n_regionkey THEN 1.0 ELSE 0.0 END AS rhs_sim
  FROM nation a, nation b
),
m AS (
  SELECT rhs_sim FROM pairs
  WHERE CASE WHEN ml = 0 THEN 1.0 ELSE (ml - d) * 1.0 / ml END >= 0.4
)
SELECT coalesce(sum(CASE WHEN rhs_sim < 1.0 THEN 1 ELSE 0 END), 0) = 0 AS holds,
       CAST(count(*) AS BIGINT) AS n_matching_pairs,
       CAST(coalesce(sum(CASE WHEN rhs_sim < 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_violating_pairs,
       round(least(1.0, coalesce(min(rhs_sim), 1.0)), 9) AS true_rhs_boundary,
       round(1.0, 9) AS input_rhs_boundary
FROM m
"""


def q_md_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table MD: equality(o_custkey, c_custkey) >= 1 -> number_difference
    (o_totalprice, c_acctbal) >= 0.2; number similarity normalized per left
    value by its max distance to any right value (lv_normalized.h CalcFor:
    maxd_l = max(l - min_r, max_r - l))."""
    from pyspark_validator.checks.md import ColumnMatch, md_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = md_check(
        o,
        [ColumnMatch("equality", "o_custkey", "c_custkey", 1.0)],
        ColumnMatch("number_difference", "o_totalprice", "c_acctbal", 0.2),
        right=c,
        left_id="o_orderkey",
        right_id="c_custkey",
    ).summary()
    return s.select(
        "holds",
        "n_matching_pairs",
        "n_violating_pairs",
        _r(F.col("true_rhs_boundary"), 9).alias("true_rhs_boundary"),
    )


SQL_MD_ORDERS_CUSTOMER = """
WITH r AS (SELECT min(c_acctbal) AS rmn, max(c_acctbal) AS rmx FROM customer),
m AS (
  SELECT CASE WHEN greatest(o_totalprice - rmn, rmx - o_totalprice) <= 0 THEN 1.0
         ELSE (greatest(o_totalprice - rmn, rmx - o_totalprice)
               - abs(o_totalprice - c_acctbal))
              / greatest(o_totalprice - rmn, rmx - o_totalprice) END AS rhs_sim
  FROM orders JOIN customer ON o_custkey = c_custkey, r
)
SELECT coalesce(sum(CASE WHEN rhs_sim < 0.2 THEN 1 ELSE 0 END), 0) = 0 AS holds,
       CAST(count(*) AS BIGINT) AS n_matching_pairs,
       CAST(coalesce(sum(CASE WHEN rhs_sim < 0.2 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_violating_pairs,
       round(least(0.2, coalesce(min(rhs_sim), 0.2)), 9) AS true_rhs_boundary
FROM m
"""


def q_cind_orders_customer_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_validator.checks.cind import cind_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = cind_check(
        o, ["o_custkey"], c, ["c_custkey"], lhs_condition="o_orderstatus = 'O'"
    ).summary()
    return s.select(
        "holds",
        "n_violating_clusters",
        "n_distinct_lhs",
        "support",
        "total_lhs_rows",
        F.round("validity", 9).alias("validity"),
        F.round("completeness", 9).alias("completeness"),
        "supporting_baskets",
        "included_support",
        "included_baskets_total",
    )


SQL_CIND_ORDERS_CUSTOMER_OPEN = """
WITH b AS (
  SELECT o_custkey AS k, count(*) AS n,
         sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS m,
         max(CASE WHEN o_custkey IN (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) AS inc
  FROM orders GROUP BY 1),
agg AS (
  SELECT sum(CASE WHEN m > 0 AND inc = 0 THEN 1 ELSE 0 END) AS viol,
         sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS supporting,
         sum(CASE WHEN m > 0 AND inc = 1 THEN 1 ELSE 0 END) AS inc_support,
         sum(inc) AS inc_total,
         sum(m) AS support, sum(n) AS total
  FROM b)
SELECT viol = 0 AS holds,
       CAST(viol AS BIGINT) AS n_violating_clusters,
       CAST(supporting AS BIGINT) AS n_distinct_lhs,
       CAST(support AS BIGINT) AS support,
       CAST(total AS BIGINT) AS total_lhs_rows,
       round(CASE WHEN supporting > 0 THEN CAST(inc_support AS DOUBLE) / supporting ELSE -1.0 END, 9) AS validity,
       round(CASE WHEN inc_total > 0 THEN CAST(inc_support AS DOUBLE) / inc_total ELSE 0.0 END, 9) AS completeness,
       CAST(supporting AS BIGINT) AS supporting_baskets,
       CAST(inc_support AS BIGINT) AS included_support,
       CAST(inc_total AS BIGINT) AS included_baskets_total
FROM agg
"""


def q_incremental_ucc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic UCC (DynPLI analog, dynamic_position_list_index.h:32-34):
    initialize on orders(o_orderkey), apply one insert delta duplicating the
    rows with o_orderkey % 5000 == 1, and roll up the post-delta verdicts.
    The oracle is the same UCC computed statically over orders UNION ALL the
    delta -- incremental state must be indistinguishable from a recompute."""
    import tempfile

    from pyspark_validator.incremental import IncrementalUCC

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    inc = IncrementalUCC(
        spark, tempfile.mkdtemp(prefix="inc_ucc_"), ["o_orderkey"], num_partitions=32
    )
    inc.initialize(o)
    inc.apply_delta(inserts=o.filter(F.col("o_orderkey") % 5000 == 1))
    v = inc.verdicts()
    return v.agg(
        (F.sum(F.col("n_violating_clusters")) == 0).alias("holds"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_distinct").cast("long").alias("n_distinct"),
        F.sum("n_violating_clusters").cast("long").alias("n_violating_clusters"),
        F.sum("n_violating_rows").cast("long").alias("n_violating_rows"),
        F.sum("violating_pairs").cast("long").alias("violating_pairs"),
    )


SQL_INCREMENTAL_UCC_DELTA = """
WITH post AS (
  SELECT o_orderkey FROM orders
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderkey % 5000 = 1
),
g AS (SELECT count(*) AS cnt FROM post GROUP BY o_orderkey)
SELECT
  sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) = 0 AS holds,
  CAST(sum(cnt) AS BIGINT) AS n_rows,
  count(*) AS n_distinct,
  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_clusters,
  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_violating_rows,
  CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS violating_pairs
FROM g
"""


def q_discovery_unary_fds_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unary FD mining over nation (TANE level-1 criterion): all A -> B with
    countDistinct(A) == countDistinct(A, B), from one wide aggregation."""
    from pyspark_validator.discovery import mine_unary_fds

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    fds = mine_unary_fds(n, ["n_nationkey", "n_name", "n_regionkey"])
    return spark.createDataFrame(fds or [("", "")], ["lhs", "rhs"]).filter(
        F.col("lhs") != ""
    )


SQL_DISCOVERY_UNARY_FDS_NATION = """
WITH c AS (
  SELECT count(DISTINCT n_nationkey) AS d_key, count(DISTINCT n_name) AS d_name,
         count(DISTINCT n_regionkey) AS d_reg,
         count(DISTINCT (n_nationkey, n_name)) AS d_key_name,
         count(DISTINCT (n_nationkey, n_regionkey)) AS d_key_reg,
         count(DISTINCT (n_name, n_regionkey)) AS d_name_reg
  FROM nation
)
SELECT lhs, rhs FROM (
  SELECT 'n_nationkey' AS lhs, 'n_name' AS rhs, d_key = d_key_name AS holds FROM c
  UNION ALL SELECT 'n_nationkey', 'n_regionkey', d_key = d_key_reg FROM c
  UNION ALL SELECT 'n_name', 'n_nationkey', d_name = d_key_name FROM c
  UNION ALL SELECT 'n_name', 'n_regionkey', d_name = d_name_reg FROM c
  UNION ALL SELECT 'n_regionkey', 'n_nationkey', d_reg = d_key_reg FROM c
  UNION ALL SELECT 'n_regionkey', 'n_name', d_reg = d_name_reg FROM c
) WHERE holds
"""


def q_ac_ranges_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic constraint (BHUNT/ac_algorithm.h): disjunctive value ranges
    of l_extendedprice / l_quantity via distributed sorted-gap clustering."""
    from pyspark_validator.checks.ac import ac_check

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return ac_check(li, "l_extendedprice", "l_quantity", "/", weight=0.003).ranges()


SQL_AC_RANGES_LINEITEM = """
WITH v AS (
  SELECT DISTINCT l_extendedprice / l_quantity AS r
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_quantity <> 0
), m AS (
  SELECT (max(r) - min(r)) * (CAST(0.003 AS DOUBLE) / (CAST(1.0 AS DOUBLE) - CAST(0.003 AS DOUBLE))) AS delta
  FROM v
), f AS (
  SELECT r, CASE WHEN r - lag(r) OVER (ORDER BY r) > m.delta THEN 1 ELSE 0 END AS s
  FROM v, m
), c AS (
  SELECT r, sum(s) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cid FROM f
), g AS (
  SELECT min(r) AS lo, max(r) AS hi, CAST(count(*) AS BIGINT) AS n_values
  FROM c GROUP BY cid
)
SELECT CAST(row_number() OVER (ORDER BY lo) AS BIGINT) AS range_id, lo, hi, n_values
FROM g
"""


def q_ac_exceptions_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AC exception finding (ac_exception_finder.cpp): rows whose
    l_discount + l_tax falls outside the standing range [0, 0.12]."""
    from pyspark_validator.checks.ac import ac_check

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return ac_check(li, "l_discount", "l_tax", "+").exceptions(
        ["l_orderkey", "l_linenumber"], ranges=[(0.0, 0.12)]
    )


SQL_AC_EXCEPTIONS_LINEITEM = """
SELECT l_orderkey, l_linenumber,
       'l_discount' AS lhs, 'l_tax' AS rhs,
       l_discount + l_tax AS res
FROM lineitem
WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL
  AND NOT (l_discount + l_tax >= CAST(0.0 AS DOUBLE)
           AND l_discount + l_tax <= CAST(0.12 AS DOUBLE))
"""


def q_nar_orders_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAR verification (nar/nar.cpp SetQualities): rule
    {o_orderstatus in (F), o_totalprice in [1000, 150000]} =>
    {o_orderpriority in (1-URGENT, 2-HIGH)} over the 6-feature orders table."""
    from pyspark_validator.checks.nar import nar_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    q = nar_check(
        o,
        {"o_orderstatus": ["F"], "o_totalprice": (1000.0, 150000.0)},
        {"o_orderpriority": ["1-URGENT", "2-HIGH"]},
    ).qualities()
    return q.select(
        "n_rows",
        "n_fit_ante",
        "n_fit_both",
        _r(F.col("support"), 9).alias("support"),
        _r(F.col("confidence"), 9).alias("confidence"),
        _r(F.col("fitness"), 9).alias("fitness"),
    )


SQL_NAR_ORDERS_PRIORITY = """
WITH t AS (
  SELECT
    o_orderstatus = 'F'
      AND o_totalprice >= CAST(1000.0 AS DOUBLE)
      AND o_totalprice <= CAST(150000.0 AS DOUBLE) AS ante,
    o_orderpriority IN ('1-URGENT', '2-HIGH') AS cons
  FROM orders
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN ante THEN 1 ELSE 0 END) AS BIGINT) AS n_fit_ante,
         CAST(sum(CASE WHEN ante AND cons THEN 1 ELSE 0 END) AS BIGINT) AS n_fit_both
  FROM t
)
SELECT n_rows, n_fit_ante, n_fit_both,
  round(n_fit_both * 1.0 / n_rows, 9) AS support,
  round(n_fit_both * 1.0 / n_fit_ante, 9) AS confidence,
  round((n_fit_both * 1.0 / n_fit_ante + n_fit_both * 1.0 / n_rows
         + CAST(3.0 AS DOUBLE) / CAST(6.0 AS DOUBLE)) / 3.0, 9) AS fitness
FROM a
"""


def q_fused_suite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused single-scan multi-check pass (pyspark_validator/fused.py): four
    checks (NAR qualities, row-predicate, completeness, numeric profile)
    share ONE scan + ONE P-row shuffle; each per-partition verdict frame is a
    projection of the same grouped result, re-joined here into one wide
    per-partition row for the oracle. partition_id is o_orderkey % 8 so the
    oracle can reproduce it (the engine default, pmod(xxhash64(key), P), has
    no DuckDB equivalent)."""
    from pyspark_validator.fused import FusedPass

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "partition_id", F.pmod(F.col("o_orderkey"), F.lit(8)).cast("int")
    )
    fp = (
        FusedPass(o, num_partitions=8, partition_col="partition_id")
        .add_nar(
            "nar",
            ante={"o_orderstatus": ["F"]},
            cons={"o_totalprice": (1000.0, 400000.0)},
            min_confidence=0.95,
        )
        .add_row_predicate("pred", {"o_totalprice": (0.0, 300000.0)})
        .add_completeness("comp", "o_orderdate")
        .add_numeric_profile("prof", "o_totalprice")
    )
    v = fp.verdicts()
    nar = v["nar"].select(
        "partition_id",
        F.col("holds").alias("nar_holds"),
        "n_rows",
        "n_fit_ante",
        "n_fit_both",
        _r(F.col("confidence"), 9).alias("confidence"),
    )
    pred = v["pred"].select(
        "partition_id", F.col("n_violations").alias("pred_violations")
    )
    comp = v["comp"].select("partition_id", F.col("n_null").alias("date_nulls"))
    prof = v["prof"].select(
        "partition_id",
        _r(F.col("min"), 6).alias("price_min"),
        _r(F.col("max"), 6).alias("price_max"),
        _r(F.col("mean"), 6).alias("price_mean"),
    )
    return (
        nar.join(pred, "partition_id")
        .join(comp, "partition_id")
        .join(prof, "partition_id")
        .orderBy("partition_id")
    )


SQL_FUSED_SUITE_ORDERS = """
WITH t AS (
  SELECT CAST(o_orderkey % 8 AS INT) AS partition_id,
         o_orderstatus = 'F' AS ante,
         (o_totalprice >= CAST(1000.0 AS DOUBLE)
          AND o_totalprice <= CAST(400000.0 AS DOUBLE)) AS cons,
         (o_totalprice >= CAST(0.0 AS DOUBLE)
          AND o_totalprice <= CAST(300000.0 AS DOUBLE)) AS fits_pred,
         o_totalprice, o_orderdate
  FROM orders
), g AS (
  SELECT partition_id,
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN ante THEN 1 ELSE 0 END) AS BIGINT) AS n_fit_ante,
    CAST(sum(CASE WHEN ante AND cons THEN 1 ELSE 0 END) AS BIGINT) AS n_fit_both,
    CAST(sum(CASE WHEN NOT coalesce(fits_pred, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
      AS pred_violations,
    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS date_nulls,
    round(CAST(min(o_totalprice) AS DOUBLE), 6) AS price_min,
    round(CAST(max(o_totalprice) AS DOUBLE), 6) AS price_max,
    round(CAST(avg(o_totalprice) AS DOUBLE), 6) AS price_mean
  FROM t GROUP BY partition_id
)
SELECT partition_id,
  (n_fit_ante = 0 OR (n_fit_ante > 0 AND n_fit_both > 0
     AND n_fit_both * 1.0 / n_fit_ante >= CAST(0.95 AS DOUBLE))) AS nar_holds,
  n_rows, n_fit_ante, n_fit_both,
  CASE WHEN n_fit_ante = 0 OR n_fit_both = 0 THEN CAST(0.0 AS DOUBLE)
       ELSE round(n_fit_both * 1.0 / n_fit_ante, 9) END AS confidence,
  pred_violations, date_nulls, price_min, price_max, price_mean
FROM g ORDER BY partition_id
"""


def q_incremental_fused_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fused state (fused.py IncrementalFused): initialize a
    two-member pass (completeness + row-predicate) on orders with
    o_orderkey % 7 != 0, fold an INSERT delta (% 7 == 0, completing the
    table) and then a DELETE delta (% 3 == 0, retraction through negated
    partials). The oracle computes the same per-partition answers statically
    over the net remaining rows (o_orderkey % 3 != 0) -- the delta-folded
    state must be indistinguishable from a recompute. partition_id is
    o_orderkey % 8 so the oracle can reproduce it."""
    import tempfile

    from pyspark_validator.fused import FusedPass, IncrementalFused

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "partition_id", F.pmod(F.col("o_orderkey"), F.lit(8)).cast("int")
    )
    fp = (
        FusedPass(o, num_partitions=8, partition_col="partition_id")
        .add_completeness("comp", "o_orderpriority")
        .add_row_predicate("pred", {"o_totalprice": (0.0, 300000.0)})
    )
    inc = IncrementalFused(fp, tempfile.mkdtemp(prefix="inc_fused_"))
    inc.initialize(o.filter(F.col("o_orderkey") % 7 != 0))
    inc.apply_delta(inserts=o.filter(F.col("o_orderkey") % 7 == 0))
    inc.apply_delta(deletes=o.filter(F.col("o_orderkey") % 3 == 0))
    v = inc.verdicts()
    comp = v["comp"].select(
        "partition_id",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("prio_nulls"),
    )
    pred = v["pred"].select(
        "partition_id",
        F.col("n_violations").cast("long").alias("pred_violations"),
    )
    return comp.join(pred, "partition_id").orderBy("partition_id")


SQL_INCREMENTAL_FUSED_DELTA = """
SELECT CAST(o_orderkey % 8 AS INT) AS partition_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS prio_nulls,
       CAST(sum(CASE WHEN NOT coalesce(
           o_totalprice >= CAST(0.0 AS DOUBLE)
           AND o_totalprice <= CAST(300000.0 AS DOUBLE), FALSE)
         THEN 1 ELSE 0 END) AS BIGINT) AS pred_violations
FROM orders WHERE o_orderkey % 3 <> 0
GROUP BY 1 ORDER BY 1
"""


def q_fused_distinct_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused HLL 'distinct' member (fused.py add_distinct): per-partition
    approximate distinct nation count over customer. At <=25 distinct values
    per partition the DataSketches HLL sketch is still in its exact coupon
    regime, so DuckDB's exact count(distinct) is a valid oracle for the
    sketch path end-to-end (estimate-mode behavior is pytest-covered).
    partition_id is c_custkey % 8 so the oracle can reproduce it."""
    from pyspark_validator.fused import FusedPass

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "partition_id", F.pmod(F.col("c_custkey"), F.lit(8)).cast("int")
    )
    fp = FusedPass(c, num_partitions=8, partition_col="partition_id").add_distinct(
        "nations", "c_nationkey"
    )
    return (
        fp.verdict("nations")
        .select(
            "partition_id",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("distinct_est").cast("long").alias("distinct_nations"),
            _r(F.col("distinct_ratio"), 9).alias("distinct_ratio"),
        )
        .orderBy("partition_id")
    )


SQL_FUSED_DISTINCT_CUSTOMER = """
SELECT CAST(c_custkey % 8 AS INT) AS partition_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS distinct_nations,
       round(CAST(count(DISTINCT c_nationkey) AS DOUBLE) / count(*), 9)
         AS distinct_ratio
FROM customer GROUP BY 1 ORDER BY 1
"""


def q_text_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition gates (pipelines/text.py::repetition_signals) over
    the first 500 documents: most frequent word 2-gram + its character
    coverage, and the duplicate word-5-gram fraction. Zero-shuffle array
    lambdas; the oracle rebuilds the same mode with a min-gram tie-break."""
    from pyspark_validator.pipelines.text import repetition_signals

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    r = repetition_signals(d, top_n=2, dup_n=5)
    return r.select(
        "doc_id",
        "top_ngram",
        _r(F.col("top_ngram_char_frac"), 9).alias("top_ngram_char_frac"),
        _r(F.col("dup_ngram_frac"), 9).alias("dup_ngram_frac"),
    )


SQL_TEXT_REPETITION_DOCS = r"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id < 500),
w AS (SELECT doc_id,
             string_split(trim(regexp_replace(t, '\s+', ' ', 'g')), ' ') AS w,
             length(regexp_replace(t, '\s', '', 'g')) AS ns
      FROM d),
g2 AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS gram
       FROM w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)),
gc AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
mx AS (SELECT doc_id, max(c) AS mc FROM gc GROUP BY 1),
top AS (SELECT gc.doc_id, min(gc.gram) AS gram, max(gc.c) AS c
        FROM gc JOIN mx ON gc.doc_id = mx.doc_id AND gc.c = mx.mc
        GROUP BY 1),
g5 AS (SELECT w.doc_id,
              greatest(len(w.w) - 4, 0) AS total,
              (SELECT count(DISTINCT array_to_string(w.w[i:i+4], ' '))
               FROM unnest(generate_series(1, greatest(len(w.w) - 4, 0))) AS t(i)) AS dist
       FROM w)
SELECT w.doc_id,
       coalesce(top.gram, '') AS top_ngram,
       round(CASE WHEN w.ns > 0 AND top.c IS NOT NULL
                  THEN top.c * length(replace(top.gram, ' ', '')) * 1.0 / w.ns
                  ELSE 0.0 END, 9) AS top_ngram_char_frac,
       round(CASE WHEN g5.total > 0
                  THEN (g5.total - g5.dist) * 1.0 / g5.total
                  ELSE 0.0 END, 9) AS dup_ngram_frac
FROM w LEFT JOIN top ON w.doc_id = top.doc_id
       LEFT JOIN g5 ON w.doc_id = g5.doc_id
"""


#: Planted PII corpus, identical literals on both engines.
_PII_ROWS = [
    (0, "plain text without any identifiers at all"),
    (1, "reach bob.smith+x@corp.example.com or alice@ex.org today"),
    (2, "see https://example.com/a?b=1 and http://ex.org/path"),
    (3, "server at 10.0.0.1 fell back to 192.168.10.20 overnight"),
    (4, "call +1 555 123 4567 or 020-7946-0958 now"),
    (5, "mixed: a@b.io via https://b.io from 8.8.8.8 dial 99887766554"),
]


def q_text_pii_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (pipelines/text.py) on a planted corpus:
    counts per kind and the redacted text itself, byte-compared vs the
    oracle's identical regexp chain."""
    from pyspark_validator.pipelines.text import pii_signals, redact_pii

    d = spark.createDataFrame(_PII_ROWS, ["doc_id", "text"])
    out = redact_pii(pii_signals(d))
    return out.select(
        "doc_id", "n_url", "n_email", "n_ipv4", "n_phone", "redacted"
    ).orderBy("doc_id")


def _sql_pii_values() -> str:
    vals = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in _PII_ROWS
    )
    return vals


SQL_TEXT_PII_PLANTED = r"""
WITH d(doc_id, text) AS (VALUES {vals}),
pats AS (SELECT
  'https?://[^\s]+' AS url,
  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}' AS email,
  '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b' AS ipv4,
  '\+?\d[\d -]{{7,}}\d' AS phone),
s AS (SELECT doc_id, text,
             len(regexp_extract_all(text, (SELECT url FROM pats))) AS n_url,
             regexp_replace(text, (SELECT url FROM pats), ' ', 'g') AS t1
      FROM d),
s2 AS (SELECT *, len(regexp_extract_all(t1, (SELECT email FROM pats))) AS n_email,
              regexp_replace(t1, (SELECT email FROM pats), ' ', 'g') AS t2 FROM s),
s3 AS (SELECT *, len(regexp_extract_all(t2, (SELECT ipv4 FROM pats))) AS n_ipv4,
              regexp_replace(t2, (SELECT ipv4 FROM pats), ' ', 'g') AS t3 FROM s2),
s4 AS (SELECT *, len(regexp_extract_all(t3, (SELECT phone FROM pats))) AS n_phone FROM s3)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_url AS BIGINT) AS n_url, CAST(n_email AS BIGINT) AS n_email,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4, CAST(n_phone AS BIGINT) AS n_phone,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           (SELECT url FROM pats), '<URL>', 'g'),
           (SELECT email FROM pats), '<EMAIL>', 'g'),
           (SELECT ipv4 FROM pats), '<IPV4>', 'g'),
           (SELECT phone FROM pats), '<PHONE>', 'g') AS redacted
FROM s4 ORDER BY doc_id
""".format(vals=_sql_pii_values())



def q_text_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher line-level boilerplate filter (pipelines/text.py::line_filter)
    over a deterministic multi-line view of documents (the corpus itself is
    single-line; the view plants kept lines, a bullet line, a cookie line,
    and a code-brace line on modular doc_id patterns)."""
    from pyspark_validator.pipelines.text import line_filter

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    multi = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("This is a solid intro sentence."),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("- bullet item on some docs.")
            ).otherwise(F.lit("Another decent closing sentence.")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit("accept the cookie banner please.")
            ).otherwise(F.lit("It ends quite well here.")),
            F.when(F.col("doc_id") % 11 == 0, F.lit("var x = { a: 1 };")).otherwise(
                F.lit("Nothing unusual at the end.")
            ),
        ).alias("text"),
    )
    return line_filter(multi).select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_bullet_lines",
        "n_ellipsis_lines",
        "keep_doc",
    )


_LF_KEEP = (
    "regexp_matches(trim(x), '[.!?\"]$') "
    r"AND len(regexp_split_to_array(trim(x), '\s+')) >= 4 "
    "AND NOT contains(lower(x), 'javascript') "
    "AND NOT contains(lower(x), 'cookie') "
    "AND NOT contains(lower(x), 'privacy policy')"
)

SQL_TEXT_LINE_FILTER = f"""
WITH m AS (
  SELECT doc_id,
    'This is a solid intro sentence.' || chr(10) || text || chr(10) ||
    CASE WHEN doc_id % 3 = 0 THEN '- bullet item on some docs.'
         ELSE 'Another decent closing sentence.' END || chr(10) ||
    CASE WHEN doc_id % 7 = 0 THEN 'accept the cookie banner please.'
         ELSE 'It ends quite well here.' END || chr(10) ||
    CASE WHEN doc_id % 11 = 0 THEN 'var x = {{ a: 1 }};'
         ELSE 'Nothing unusual at the end.' END AS text
  FROM documents
), s AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM m
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(list_filter(lines, x -> {_LF_KEEP})) AS BIGINT) AS n_kept_lines,
  CAST(len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]'))) AS BIGINT)
    AS n_bullet_lines,
  CAST(len(list_filter(lines, x -> regexp_matches(trim(x), '\\.\\.\\.$'))) AS BIGINT)
    AS n_ellipsis_lines,
  (NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{{')
   AND len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]')))
       <= 0.9 * len(lines)
   AND len(list_filter(lines, x -> regexp_matches(trim(x), '\\.\\.\\.$')))
       <= 0.3 * len(lines)) AS keep_doc
FROM s
"""


def q_sfd_orders_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORDS soft-FD / correlation verdict (fd/sfd/cords.cpp) for
    o_orderpriority vs o_orderstatus: cardinalities, SFD rule, contingency
    chi-square vs the 1-1e-6 quantile, structural zeroes."""
    from pyspark_validator.checks.sfd import sfd_check

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = sfd_check(o, "o_orderpriority", "o_orderstatus").summary()
    return s.select(
        "det",
        "dep",
        "n_rows",
        "det_card",
        "dep_card",
        "pair_card",
        "sfd_holds",
        "d1",
        "d2",
        _r(F.col("chi2"), 6).alias("chi2"),
        "dof",
        _r(F.col("chi2_critical"), 6).alias("chi2_critical"),
        "n_zero_cells",
        "too_many_zeroes",
        "correlated",
    )


# chi2_ppf(1 - 1e-6, dof=8); both columns' top-100 values cover all rows, so
# both take the skewed (frequency-ordinal) bucket path and the contingency is
# the raw value-pair table -- chi2 and zero counts are permutation-invariant,
# so the oracle needs no ordinal replication.
SQL_SFD_ORDERS_PRIORITY_STATUS = """
WITH c AS (
  SELECT o_orderpriority AS p, o_orderstatus AS s, count(*) AS o
  FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2
), m1 AS (SELECT p, sum(o) AS n_i FROM c GROUP BY p),
m2 AS (SELECT s, sum(o) AS n_j FROM c GROUP BY s),
t AS (
  SELECT CAST(sum(c.o) AS BIGINT) AS n_eff,
         sum(CAST(c.o AS DOUBLE) * c.o / (m1.n_i * m2.n_j)) AS sfrac,
         CAST(count(*) AS BIGINT) AS n_nonzero
  FROM c JOIN m1 USING (p) JOIN m2 USING (s)
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS det_card,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS dep_card,
         CAST(count(DISTINCT (o_orderpriority, o_orderstatus)) AS BIGINT) AS pair_card
  FROM orders
)
SELECT 'o_orderpriority' AS det, 'o_orderstatus' AS dep,
  n_rows, det_card, dep_card, pair_card,
  (pair_card <= 0.99 * n_rows AND det_card >= 0.9 * pair_card) AS sfd_holds,
  det_card AS d1, dep_card AS d2,
  round(n_eff * (sfrac - 1.0), 6) AS chi2,
  CAST((det_card - 1) * (dep_card - 1) AS BIGINT) AS dof,
  round(42.70091392634974, 6) AS chi2_critical,
  CAST(det_card * dep_card - n_nonzero AS BIGINT) AS n_zero_cells,
  (det_card * dep_card - n_nonzero > 0.3 * det_card * dep_card) AS too_many_zeroes,
  (NOT (pair_card <= 0.99 * n_rows AND det_card >= 0.9 * pair_card))
    AND ((det_card * dep_card - n_nonzero > 0.3 * det_card * dep_card)
         OR n_eff * (sfrac - 1.0) > 42.70091392634974) AS correlated
FROM t, base
"""


def q_schema_verdict_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-level schema diff of the interleaved view against the
    input_hint shape, plus one deliberately-missing required column. No scan:
    the verdict is computed from the StructType alone (schema.py layer 1)."""
    from pyspark_validator.schema import ColumnSpec, SchemaSpec, schema_verdict

    ds = _docs_spans(spark, sf_dir)
    spec = SchemaSpec(
        [
            ColumnSpec("doc_id", "string"),
            ColumnSpec(
                "spans",
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>",
            ),
            ColumnSpec("license", "string"),
        ]
    )
    return schema_verdict(spark, ds, spec).orderBy("column")


SQL_SCHEMA_VERDICT_DOCS = """
SELECT * FROM (VALUES
  ('doc_id', 'ok', 'string', 'string', TRUE),
  ('license', 'missing', 'string', '', FALSE),
  ('spans', 'ok',
   'array<struct<kind:string,text:string,media_ref:string,offset:int>>',
   'array<struct<kind:string,text:string,media_ref:string,offset:int>>', TRUE)
) t("column", status, expected, actual, holds)
ORDER BY "column"
"""


def q_span_integrity_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence integrity (schema.py layer 3) over the interleaved view
    with three deterministic corruptions planted: doc_id % 97 -> appended
    out-of-order span (offset -1), % 89 -> first span kind 'bogus' (which for
    text-first docs also orphans media_ref), % 83 -> first span text NULLed.
    Counted per rule through the fused member, rolled up globally. The moduli
    are pairwise-coprime with ranges such that only did=0 stacks corruptions,
    and there the kind corruption masks the text_null one -- both sides count
    the masked form."""
    from pyspark_validator.fused import FusedPass

    ds = _docs_spans(spark, sf_dir)
    did = F.substring("doc_id", 5, 12).cast("long")
    tail = F.struct(
        F.lit("text").alias("kind"),
        F.lit("tail").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(-1).cast("int").alias("offset"),
    )
    spans = F.when(did % 97 == 0, F.concat(F.col("spans"), F.array(tail))).otherwise(
        F.col("spans")
    )
    spans = F.transform(
        spans,
        lambda x, i: F.when(
            i == 0,
            F.struct(
                F.when(did % 89 == 0, F.lit("bogus")).otherwise(x["kind"]).alias("kind"),
                F.when(did % 83 == 0, F.lit(None).cast("string"))
                .otherwise(x["text"])
                .alias("text"),
                x["media_ref"].alias("media_ref"),
                x["offset"].alias("offset"),
            ),
        ).otherwise(x),
    )
    corrupted = ds.select("doc_id", spans.alias("spans"))
    fp = FusedPass(corrupted, num_partitions=32, partition_key="doc_id")
    fp.add_span_integrity("si")
    return fp.verdict("si").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("kind_violations").cast("bigint").alias("kind_violations"),
        F.sum("media_null_violations").cast("bigint").alias("media_null_violations"),
        F.sum("order_violations").cast("bigint").alias("order_violations"),
        F.sum("text_null_violations").cast("bigint").alias("text_null_violations"),
        (
            F.sum("kind_violations")
            + F.sum("media_null_violations")
            + F.sum("order_violations")
            + F.sum("text_null_violations")
            == 0
        ).alias("holds"),
    )


SQL_SPAN_INTEGRITY_PLANTED = """
WITH m AS (
  SELECT doc_id AS did,
         CASE WHEN doc_id % 1000 = 0 THEN 3
              WHEN doc_id % 100 = 0 THEN 2
              ELSE 1 END AS copies
  FROM documents
),
c AS (
  SELECT
    CAST(sum(copies) AS BIGINT) AS n_docs,
    -- kind: every % 89 doc (first span's kind becomes 'bogus')
    CAST(coalesce(sum(CASE WHEN did % 89 = 0 THEN copies END), 0) AS BIGINT)
      AS kind_violations,
    -- media_null: 'bogus' (non-text) first span with NULL media_ref --
    -- only docs whose first span was a text span (did % 7 != 0)
    CAST(coalesce(sum(CASE WHEN did % 89 = 0 AND did % 7 != 0 THEN copies END), 0)
      AS BIGINT) AS media_null_violations,
    -- order: every % 97 doc gets the offset -1 tail span
    CAST(coalesce(sum(CASE WHEN did % 97 = 0 THEN copies END), 0) AS BIGINT)
      AS order_violations,
    -- text_null: NULLed text on a first span that is still kind 'text'
    -- (not an image first span, not kind-corrupted by the % 89 rule)
    CAST(coalesce(sum(CASE WHEN did % 83 = 0 AND did % 7 != 0 AND did % 89 != 0
                           THEN copies END), 0) AS BIGINT) AS text_null_violations
  FROM m
)
SELECT n_docs, kind_violations, media_null_violations, order_violations,
       text_null_violations,
       (kind_violations + media_null_violations + order_violations
        + text_null_violations = 0) AS holds
FROM c
"""


def q_type_conformance_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-level type conformance (schema.py layer 2): a string column
    claimed castable to double, planted so exactly the doc_id % 3 == 0 rows
    conform ('12.<did>') and the rest are ISO language codes (never numeric).
    Exercises Column.try_cast parity with DuckDB TRY_CAST."""
    from pyspark_validator.fused import FusedPass

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    claimed = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("12."), F.col("doc_id").cast("string")),
        )
        .otherwise(F.col("lang"))
        .alias("val")
    )
    df = d.select(F.col("doc_id"), claimed)
    fp = FusedPass(df, num_partitions=32, partition_key="doc_id")
    fp.add_type_conformance("tc", "val", "double")
    return fp.verdict("tc").agg(
        F.sum("n_checked").cast("bigint").alias("n_checked"),
        F.sum("n_bad").cast("bigint").alias("n_bad"),
        (F.sum("n_bad") == 0).alias("holds"),
    )


SQL_TYPE_CONFORMANCE_LANG = """
WITH v AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN '12.' || CAST(doc_id AS VARCHAR)
              ELSE lang END AS val
  FROM documents
),
c AS (
  SELECT CAST(count(val) AS BIGINT) AS n_checked,
         CAST(coalesce(sum(CASE WHEN val IS NOT NULL
                                AND TRY_CAST(val AS DOUBLE) IS NULL
                                THEN 1 END), 0) AS BIGINT) AS n_bad
  FROM v
)
SELECT n_checked, n_bad, (n_bad = 0) AS holds FROM c
"""


def q_media_ref_integrity_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity of span media_refs against the media catalog
    (north rule: 'referential checks' on the interleaved shape). Docs with
    did % 101 == 0 get every image span's media_ref rewritten to a dangling
    media://missing/<did>; the catalog is the clean view's distinct refs.
    AIND semantics via checks/ind.py (distinct-reduce then anti-join,
    broadcastable catalog)."""
    from pyspark_validator.checks.ind import ind_check

    ds = _docs_spans(spark, sf_dir)
    catalog = (
        ds.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "image")
        .select(F.col("s.media_ref").alias("ref"))
        .dropDuplicates()
    )
    did = F.substring("doc_id", 5, 12).cast("long")
    corrupted = ds.select(
        "doc_id",
        F.transform(
            "spans",
            lambda x: F.when(
                (did % 101 == 0) & (x["kind"] == "image"),
                F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    F.concat(F.lit("media://missing/"), did.cast("string")).alias(
                        "media_ref"
                    ),
                    x["offset"].alias("offset"),
                ),
            ).otherwise(x),
        ).alias("spans"),
    )
    refs = (
        corrupted.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "image")
        .select(F.col("s.media_ref").alias("ref"))
    )
    s = ind_check(refs, ["ref"], catalog, ["ref"]).summary()
    return s.select(
        "holds",
        F.col("n_violating_clusters").cast("bigint").alias("n_violating_clusters"),
        F.col("n_violating_rows").cast("bigint").alias("n_violating_rows"),
        _r(F.col("error"), 9).alias("error"),
        F.col("n_distinct_lhs").cast("bigint").alias("n_distinct_lhs"),
        F.col("n_rows_lhs").cast("bigint").alias("n_rows_lhs"),
    )


SQL_MEDIA_REF_INTEGRITY_PLANTED = """
WITH base AS (
  SELECT d.doc_id, d.text, c.copy
  FROM documents d
  JOIN (SELECT unnest(range(0, 3)) AS copy) c
    ON c.copy = 0 OR (c.copy = 1 AND d.doc_id % 100 = 0) OR (c.copy = 2 AND d.doc_id % 1000 = 0)
),
img AS (
  SELECT b.doc_id, b.copy, t.i
  FROM base b,
       unnest(range(0, greatest(CAST(ceil(length(b.text) / 64.0) AS INT), 1))) AS t(i)
  WHERE (b.doc_id + t.i) % 7 = 0
),
refs AS (
  SELECT CASE WHEN doc_id % 101 = 0
              THEN 'media://missing/' || CAST(doc_id AS VARCHAR)
              ELSE 'media://image/' || CAST((doc_id * 31 + i) % 100000 AS VARCHAR)
         END AS ref
  FROM img
),
catalog AS (
  SELECT DISTINCT 'media://image/' || CAST((doc_id * 31 + i) % 100000 AS VARCHAR) AS ref
  FROM img
),
lhs AS (SELECT ref, count(*) AS occ FROM refs GROUP BY ref),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_distinct_lhs,
         CAST(sum(occ) AS BIGINT) AS n_rows_lhs
  FROM lhs
),
miss AS (
  SELECT CAST(count(*) AS BIGINT) AS n_violating_clusters,
         CAST(coalesce(sum(l.occ), 0) AS BIGINT) AS n_violating_rows
  FROM lhs l LEFT JOIN catalog c USING (ref)
  WHERE c.ref IS NULL
)
SELECT (n_violating_clusters = 0) AS holds,
       n_violating_clusters,
       n_violating_rows,
       round(CAST(n_violating_clusters AS DOUBLE) / n_distinct_lhs, 9) AS error,
       n_distinct_lhs,
       n_rows_lhs
FROM tot, miss
"""


def q_sketch_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-column sketch profile (sketches.sketch_profile: HLL +
    CMS + KLL for every column in ONE scan and one JVM aggregation). The
    oracle checks the exact parts (row/null counts) plus the HLL estimate
    bounded against the true distinct count (rel err << the 2.5% envelope at
    p=12, asserted here as a boolean so the check is deterministic)."""
    from pyspark_validator.sketches import sketch_profile

    cols = ["l_orderkey", "l_quantity", "l_flag_nullable"]
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .withColumn(
            "l_flag_nullable",
            F.when(F.col("l_linenumber") == 1, F.col("l_returnflag")),
        )
        .repartition(8)  # single-file parquet: parallelize the one pass
    )
    prof = sketch_profile(li, cols)
    exact_row = li.agg(
        *[F.countDistinct(c).alias(c) for c in cols]
    ).collect()[0]
    exact = {c: exact_row[c] for c in cols}
    rows = [
        (
            c,
            prof[c].n,
            prof[c].n_null,
            bool(
                abs(prof[c].distinct_est() - exact[c]) <= 0.05 * exact[c]
            ),
            prof[c].kll is not None,
        )
        for c in sorted(prof)
    ]
    return spark.createDataFrame(
        rows, "col string, n_rows bigint, n_null bigint, "
        "distinct_est_within_5pct boolean, has_quantile_sketch boolean"
    )


SQL_SKETCH_PROFILE_LINEITEM = """
SELECT * FROM (VALUES
  ('l_flag_nullable',
   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
   (SELECT CAST(count(*) FILTER (WHERE l_linenumber != 1) AS BIGINT) FROM lineitem),
   TRUE, FALSE),
  ('l_orderkey',
   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
   CAST(0 AS BIGINT), TRUE, TRUE),
  ('l_quantity',
   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
   CAST(0 AS BIGINT), TRUE, TRUE)
) t(col, n_rows, n_null, distinct_est_within_5pct, has_quantile_sketch)
ORDER BY col
"""


def q_media_conformance_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-vs-metadata conformance over the deterministic real-codec media
    fixture (PPM/WAV/Y4M payloads), with one truncated image payload and one
    lying audio duration planted. The engine decodes every payload with its
    dependency-free codecs (pipelines/multimodal.py) and verdicts globally;
    the fixture is deterministic, so the oracle is the closed-form verdict."""
    from pyspark_validator.pipelines.multimodal import (
        media_conformance_check,
        real_media_table,
    )

    media = real_media_table(spark, n=24)
    corrupted = media.withColumn(
        "payload",
        F.when(
            F.col("media_ref") == "media://image/000000",
            F.expr("substring(payload, 1, 10)"),
        ).otherwise(F.col("payload")),
    ).withColumn(
        "meta",
        F.when(
            F.col("media_ref") == "media://audio/000001",
            F.named_struct(
                F.lit("width"), F.col("meta.width"),
                F.lit("height"), F.col("meta.height"),
                F.lit("duration_ms"), F.lit(999),
                F.lit("codec"), F.col("meta.codec"),
            ).cast(media.schema["meta"].dataType),
        ).otherwise(F.col("meta")),
    )
    v = media_conformance_check(corrupted, num_partitions=8)
    return v.agg(
        F.sum("n_media").cast("bigint").alias("n_media"),
        F.sum("n_undecodable").cast("bigint").alias("n_undecodable"),
        F.sum("n_meta_mismatch").cast("bigint").alias("n_meta_mismatch"),
        (F.sum("n_undecodable") + F.sum("n_meta_mismatch") == 0).alias("holds"),
    )


SQL_MEDIA_CONFORMANCE_PLANTED = """
SELECT CAST(24 AS BIGINT) AS n_media,
       CAST(1 AS BIGINT) AS n_undecodable,
       CAST(1 AS BIGINT) AS n_meta_mismatch,
       FALSE AS holds
"""


def q_discovery_unary_inds_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spider-style unary IND discovery (discovery.py::mine_unary_inds) over
    the key columns of nation/region/customer/supplier: one inverted
    (value -> attribute-set) shuffle judges ALL ordered column pairs at once.
    The oracle replays the same inverted-domain containment in SQL."""
    from pyspark_validator.discovery import mine_unary_inds

    tables = {
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_regionkey"
        ),
        "region": spark.read.parquet(f"{sf_dir}/region.parquet").select(
            "r_regionkey"
        ),
        "customer": spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_nationkey"
        ),
        "supplier": spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
            "s_nationkey"
        ),
    }
    inds = mine_unary_inds(tables)
    return spark.createDataFrame(
        inds or [("", "")], ["dependent", "referenced"]
    ).filter(F.col("dependent") != "").orderBy("dependent", "referenced")


SQL_DISCOVERY_UNARY_INDS_KEYS = """
WITH tagged AS (
  SELECT DISTINCT CAST(n_nationkey AS VARCHAR) AS value, 'nation.n_nationkey' AS attr FROM nation WHERE n_nationkey IS NOT NULL
  UNION SELECT DISTINCT CAST(n_regionkey AS VARCHAR), 'nation.n_regionkey' FROM nation WHERE n_regionkey IS NOT NULL
  UNION SELECT DISTINCT CAST(r_regionkey AS VARCHAR), 'region.r_regionkey' FROM region WHERE r_regionkey IS NOT NULL
  UNION SELECT DISTINCT CAST(c_nationkey AS VARCHAR), 'customer.c_nationkey' FROM customer WHERE c_nationkey IS NOT NULL
  UNION SELECT DISTINCT CAST(s_nationkey AS VARCHAR), 'supplier.s_nationkey' FROM supplier WHERE s_nationkey IS NOT NULL),
attrs AS (SELECT DISTINCT attr FROM tagged),
pairs AS (SELECT a.attr AS dependent, b.attr AS referenced
          FROM attrs a, attrs b WHERE a.attr <> b.attr)
SELECT p.dependent, p.referenced
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM tagged d
  WHERE d.attr = p.dependent
    AND NOT EXISTS (SELECT 1 FROM tagged r
                    WHERE r.attr = p.referenced AND r.value = d.value))
ORDER BY dependent, referenced
"""


def _hex_cut(fraction: float, k: int = 12) -> str:
    """Same cut points as pipelines/curation.py::hex_threshold (md5-prefix
    fraction threshold), re-derived here so the SQL oracles are plain module
    constants."""
    if fraction >= 1.0:
        return "g"
    if fraction <= 0.0:
        return ""
    return format(int(fraction * (16**k)), "0{}x".format(k))


def q_curation_hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-threshold train/val/test split
    (pipelines/curation.py::hash_split): per-split doc counts + id checksum.
    Zero-shuffle per-row expression; the oracle re-derives the identical split
    from the same md5 prefix cut points."""
    from pyspark_validator.pipelines.curation import hash_split

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = hash_split(
        d, fractions={"test": 0.05, "val": 0.05, "train": 0.90}, salt="r2"
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("split")
    )


SQL_CURATION_HASH_SPLIT_DOCS = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|r2'), 1, 12) < '{t1}' THEN 'test'
              WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|r2'), 1, 12) < '{t2}' THEN 'val'
              ELSE 'train' END AS split
  FROM documents)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM s GROUP BY split ORDER BY split
""".format(t1=_hex_cut(0.05), t2=_hex_cut(0.10))


def q_curation_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling
    (pipelines/curation.py::mixture_sample): src0 kept at 1.0, src1 at 0.25,
    src2 dropped, every other source at the 0.5 default. Per-source kept
    counts + id checksum vs the identical md5-threshold CASE in SQL."""
    from pyspark_validator.pipelines.curation import mixture_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = mixture_sample(
        d,
        {"src0": 1.0, "src1": 0.25, "src2": 0.0},
        default_rate=0.5,
        salt="mix",
    )
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("source")
    )


SQL_CURATION_MIXTURE_DOCS = """
WITH s AS (
  SELECT doc_id, source
  FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 12) <
        CASE WHEN source = 'src0' THEN 'g'
             WHEN source = 'src1' THEN '{h25}'
             WHEN source = 'src2' THEN ''
             ELSE '{h50}' END)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM s GROUP BY source ORDER BY source
""".format(h25=_hex_cut(0.25), h50=_hex_cut(0.50))


def q_curation_decontam_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (pipelines/curation.py::decontaminate) on a
    planted corpus: docs with doc_id % 37 == 0 act as the benchmark; training
    docs with doc_id % 31 == 3 get benchmark doc 0's text appended, so they
    MUST be flagged. Returns (doc_id, n_contaminated_grams) for flagged docs;
    the oracle builds the identical planted corpus and counts shared 8-gram
    instances with a list-slice n-gram join."""
    from pyspark_validator.pipelines.curation import decontaminate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.where(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    b0 = bench.where(F.col("doc_id") == 0).select(F.col("text").alias("btext"))
    train = (
        d.where(F.col("doc_id") % 37 != 0)
        .select("doc_id", "text")
        .crossJoin(F.broadcast(b0))
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 31 == 3,
                F.concat(F.col("text"), F.lit(" "), F.col("btext")),
            ).otherwise(F.col("text")),
        )
        .drop("btext")
    )
    out = decontaminate(train, bench, n=8)
    return (
        out.where("contaminated")
        .select("doc_id", "n_contaminated_grams")
        .orderBy("doc_id")
    )


def q_curation_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (pipelines/curation.py::
    chunk_documents): 64-token windows every 48 tokens (16-token overlap),
    tail emitted exactly once; zero-shuffle per-row plan. The oracle replays
    the start/length arithmetic and the token re-join in SQL."""
    from pyspark_validator.pipelines.curation import chunk_documents

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(d, chunk_tokens=64, overlap=16)


SQL_CURATION_CHUNK_DOCS = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
starts AS (
  SELECT doc_id, w,
         unnest(range(0,
           CAST(ceil(greatest(array_length(w) - 64, 0) / 48.0) AS BIGINT) + 1)) AS i
  FROM words
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(i * 48 + 1 AS BIGINT) AS start_token,
       CAST(least(64, array_length(w) - i * 48) AS BIGINT) AS n_tokens,
       array_to_string(w[i*48 + 1 : i*48 + 64], ' ') AS text
FROM starts
"""


def q_curation_contam_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PaLM-style coverage-fraction contamination (pipelines/curation.py::
    contamination_fraction): benchmark = docs with doc_id % 37 == 0; training
    docs with doc_id % 31 == 3 get benchmark doc 0's FULL text appended
    (coverage 1.0 of item 0), docs with doc_id % 43 == 7 get the first HALF of
    its words appended (partial coverage ~0.36). Returns every (train doc,
    bench item) pair whose fraction of the item's distinct 8-grams found in
    the doc is >= 0.3; the oracle replays the planted corpus and the coverage
    join in SQL."""
    from pyspark_validator.pipelines.curation import contamination_fraction

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.where(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    b0 = bench.where(F.col("doc_id") == 0).select(F.col("text").alias("btext"))
    bw = F.split(F.trim(F.col("btext")), r"\s+")
    half = F.array_join(F.slice(bw, 1, F.floor(F.size(bw) / 2).cast("int")), " ")
    train = (
        d.where(F.col("doc_id") % 37 != 0)
        .select("doc_id", "text")
        .crossJoin(F.broadcast(b0))
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 31 == 3,
                F.concat(F.col("text"), F.lit(" "), F.col("btext")),
            )
            .when(
                F.col("doc_id") % 43 == 7,
                F.concat(F.col("text"), F.lit(" "), half),
            )
            .otherwise(F.col("text")),
        )
        .drop("btext")
    )
    out = contamination_fraction(train, bench, n=8, min_frac=0.3)
    return out.select(
        "doc_id",
        "bench_id",
        F.col("common_grams").cast("long").alias("common_grams"),
        F.col("n_bench_grams").cast("long").alias("n_bench_grams"),
        _r(F.col("frac"), 9).alias("frac"),
    )


SQL_CURATION_CONTAM_FRACTION = r"""
WITH b0 AS (SELECT text AS btext FROM documents WHERE doc_id = 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0),
train AS (
  SELECT d.doc_id,
         CASE
           WHEN d.doc_id % 31 = 3 THEN d.text || ' ' || b0.btext
           WHEN d.doc_id % 43 = 7 THEN d.text || ' ' || array_to_string(
             (regexp_split_to_array(trim(b0.btext), '\s+'))
               [1 : array_length(regexp_split_to_array(trim(b0.btext), '\s+')) // 2],
             ' ')
           ELSE d.text
         END AS text
  FROM documents d, b0
  WHERE d.doc_id % 37 != 0
),
bw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM bench),
bg AS (
  SELECT DISTINCT doc_id AS bench_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(array_length(w) - 7, 0) + 1),
           i -> array_to_string(w[i:i+7], ' ')))) AS g
  FROM bw
),
sizes AS (SELECT bench_id, count(*) AS n_bench_grams FROM bg GROUP BY bench_id),
tw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM train),
tg AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(array_length(w) - 7, 0) + 1),
           i -> array_to_string(w[i:i+7], ' ')))) AS g
  FROM tw
),
common AS (
  SELECT t.doc_id, b.bench_id, count(*) AS common_grams
  FROM tg t JOIN bg b ON t.g = b.g
  GROUP BY 1, 2
)
SELECT c.doc_id, c.bench_id,
       CAST(common_grams AS BIGINT) AS common_grams,
       CAST(n_bench_grams AS BIGINT) AS n_bench_grams,
       round(common_grams * 1.0 / n_bench_grams, 9) AS frac
FROM common c JOIN sizes s USING (bench_id)
WHERE common_grams * 1.0 / n_bench_grams >= 0.3
"""


def q_curation_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate decontamination (pipelines/curation.py::
    decontaminate_fuzzy over dedup.py::prefix_jaccard_join): benchmark = docs
    with doc_id % 37 == 0; training docs with doc_id % 41 == 5 get their text
    REPLACED by benchmark doc 0's text plus one extra word — a near-copy that
    exact 8-gram matching under-counts but shingle Jaccard >= 0.8 flags. The
    oracle replays the planted corpus and the full cross-corpus exact Jaccard
    in SQL (prefix filtering is lossless, so outputs are identical)."""
    from pyspark_validator.pipelines.curation import decontaminate_fuzzy

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.where(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    b0 = bench.where(F.col("doc_id") == 0).select(F.col("text").alias("btext"))
    train = (
        d.where(F.col("doc_id") % 37 != 0)
        .select("doc_id", "text")
        .crossJoin(F.broadcast(b0))
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 41 == 5,
                F.concat(F.col("btext"), F.lit(" zz")),
            ).otherwise(F.col("text")),
        )
        .drop("btext")
    )
    out = decontaminate_fuzzy(train, bench, k=3, threshold=0.8)
    return (
        out.where("contaminated")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("n_benchmark_matches").cast("bigint").alias("n_benchmark_matches"),
            _r(F.col("max_benchmark_jaccard"), 9).alias("max_benchmark_jaccard"),
        )
        .orderBy("doc_id")
    )


SQL_CURATION_DECONTAM_FUZZY = r"""
WITH b0 AS (SELECT text AS btext FROM documents WHERE doc_id = 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0),
train AS (SELECT doc_id,
                 CASE WHEN doc_id % 41 = 5
                      THEN (SELECT btext FROM b0) || ' zz'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 37 <> 0),
tw AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM train),
bw AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM bench),
tsh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(array_length(w) - 3, 0) + 1),
           i -> array_to_string(w[i+1:i+3], ' ')))) AS shingle
  FROM tw
),
bsh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(0, greatest(array_length(w) - 3, 0) + 1),
           i -> array_to_string(w[i+1:i+3], ' ')))) AS shingle
  FROM bw
),
tsz AS (SELECT doc_id, count(*) AS n FROM tsh GROUP BY doc_id),
bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
common AS (
  SELECT t.doc_id AS id_l, b.doc_id AS id_r, count(*) AS c
  FROM tsh t JOIN bsh b ON t.shingle = b.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_l, c * 1.0 / (tsz.n + bsz.n - c) AS j
  FROM common
  JOIN tsz ON tsz.doc_id = id_l
  JOIN bsz ON bsz.doc_id = id_r
  WHERE c * 1.0 / (tsz.n + bsz.n - c) >= 0.8
)
SELECT CAST(id_l AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_benchmark_matches,
       round(max(j), 9) AS max_benchmark_jaccard
FROM pairs GROUP BY id_l ORDER BY doc_id
"""


SQL_CURATION_DECONTAM_PLANTED = r"""
WITH b0 AS (SELECT text AS btext FROM documents WHERE doc_id = 0),
bench AS (SELECT text FROM documents WHERE doc_id % 37 = 0),
train AS (SELECT doc_id,
                 CASE WHEN doc_id % 31 = 3
                      THEN text || ' ' || (SELECT btext FROM b0)
                      ELSE text END AS text
          FROM documents WHERE doc_id % 37 <> 0),
bt AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM bench),
bg AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
       FROM (SELECT w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM bt)),
tt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM train),
tg AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS g
       FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM tt))
SELECT CAST(tg.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams
FROM tg JOIN bg USING (g)
GROUP BY tg.doc_id
ORDER BY doc_id
"""


def q_dedup_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate spans (pipelines/curation.py::duplicate_spans;
    Lee et al. 2022 exact-substring dedup at word-8-gram granularity): every
    (doc, position) whose 8-gram occurs in >= 2 distinct documents. The sf
    documents table NATURALLY shares ~1k boilerplate 8-grams across docs, so
    no planting is needed; the oracle recomputes positions + distinct-doc
    counts from gram STRINGS (the engine's xxhash64 key is internal)."""
    from pyspark_validator.pipelines.curation import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_spans(docs, n=8, min_docs=2).select(
        "doc_id", "pos", F.col("n_docs").cast("bigint").alias("n_docs")
    )


SQL_DEDUP_DUP_SPANS_DOCS = r"""
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(ws[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i
            FROM w)),
c AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
SELECT CAST(doc_id AS BIGINT) AS doc_id, pos, n_docs
FROM g JOIN c USING (gram)
"""


def q_dedup_dup_span_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage exposure (pipelines/curation.py::
    duplicate_span_stats): gram and merged-token coverage fractions of the
    spans shared with other documents -- the gate metric over
    duplicate_spans. The oracle replays the fixed-width interval merge with
    one LAG window in SQL."""
    from pyspark_validator.pipelines.curation import duplicate_span_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_span_stats(docs, n=8, min_docs=2)


SQL_DEDUP_DUP_SPAN_STATS_DOCS = r"""
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(ws[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i
            FROM w)),
c AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT doc_id, pos,
             pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
      FROM g JOIN c USING (gram)),
dup AS (SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_dup_grams,
               CAST(sum(CASE WHEN gap IS NULL THEN 8
                             ELSE least(8, gap) END) AS BIGINT) AS covered_tokens
        FROM d GROUP BY doc_id),
base AS (SELECT doc_id,
                CAST(len(ws) AS BIGINT) AS n_tokens,
                CAST(greatest(len(ws) - 7, 0) AS BIGINT) AS n_grams
         FROM w)
SELECT CAST(base.doc_id AS BIGINT) AS doc_id, n_tokens, n_grams,
       COALESCE(n_dup_grams, 0) AS n_dup_grams,
       COALESCE(covered_tokens, 0) AS covered_tokens,
       round(CASE WHEN n_grams > 0
                  THEN COALESCE(n_dup_grams, 0) / CAST(n_grams AS DOUBLE)
                  ELSE 0.0 END, 9) AS dup_gram_frac,
       round(CASE WHEN n_tokens > 0
                  THEN COALESCE(covered_tokens, 0) / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END, 9) AS dup_token_frac
FROM base LEFT JOIN dup ON base.doc_id = dup.doc_id
"""


def q_dedup_delta_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus duplicate spans (pipelines/curation.py::
    delta_duplicate_spans): every third document arrives as a crawl increment
    and is span-checked against the standing gram-count index of the rest --
    the corpus is never re-paired. By the recompute-equivalence law (pinned in
    tests/test_dup_spans.py) the result equals the FULL-table duplicate-span
    set restricted to delta docs, which is what the oracle computes."""
    from pyspark_validator.pipelines.curation import (
        delta_duplicate_spans,
        gram_count_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    idx = gram_count_index(corpus, n=8)
    return delta_duplicate_spans(delta, idx, n=8, min_docs=2).select(
        "doc_id", "pos", F.col("n_docs").cast("bigint").alias("n_docs")
    )


SQL_DEDUP_DELTA_DUP_SPANS_DOCS = r"""
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(ws[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i
            FROM w)),
c AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
SELECT CAST(doc_id AS BIGINT) AS doc_id, pos, n_docs
FROM g JOIN c USING (gram)
WHERE doc_id % 3 = 0
"""


def q_curation_decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination (pipelines/curation.py::
    semantic_decontaminate): benchmark = 2x-scaled copies of every 25th
    training embedding — same direction, so cosine is exactly 1.0 and the
    sign-LSH buckets are identical (recall 1 on the planted set). No other
    training vector reaches 0.95 cosine against those directions in the test
    data (the embedding_cosine_dups invariant), so the surviving set is the
    closed-form complement. The benchmark side broadcasts; the training table
    is scanned once and never shuffled."""
    from pyspark_validator.pipelines.curation import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bench = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda v: v * 2).alias("embedding"),
    )
    clean = semantic_decontaminate(emb, bench, dim=64, threshold=0.95, num_bits=8)
    return clean.select("vec_id")


SQL_CURATION_DECONTAM_SEMANTIC = """
SELECT vec_id FROM embeddings WHERE vec_id % 25 <> 0
"""


def q_curation_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (pipelines/curation.py::pack_sequences)
    with 8 cross-engine-reproducible bins (doc_id % 8) and 512-token chunks:
    per-doc (bin, token count, chunk id, offset). The oracle replays the same
    per-bin running-prefix-sum window."""
    from pyspark_validator.pipelines.curation import pack_sequences

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = pack_sequences(
        d, chunk_tokens=512, num_bins=8, bin_col=F.col("doc_id") % 8
    )
    return out.select(
        "doc_id", "pack_bin", "n_tokens", "chunk_id", "chunk_offset"
    ).orderBy("doc_id")


SQL_CURATION_PACK_DOCS = r"""
WITH t AS (SELECT doc_id, doc_id % 8 AS pack_bin,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           FROM documents),
c AS (SELECT doc_id, pack_bin, n_tokens,
             COALESCE(sum(n_tokens) OVER (PARTITION BY pack_bin ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(pack_bin AS BIGINT) AS pack_bin,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(before / 512) AS BIGINT) AS chunk_id,
       CAST(before % 512 AS BIGINT) AS chunk_offset
FROM c ORDER BY doc_id
"""


def q_curation_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader manifest of the packed corpus (pipelines/curation.py::
    chunk_manifest): one row per (chunk, doc) overlap with the doc-token
    slice and its landing offset inside the chunk -- the inverse view a
    training data loader reads. The oracle replays the pack prefix sums and
    expands each doc over the chunk range it touches."""
    from pyspark_validator.pipelines.curation import chunk_manifest, pack_sequences

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    packed = pack_sequences(
        d, chunk_tokens=512, num_bins=8, bin_col=F.col("doc_id") % 8
    )
    return chunk_manifest(packed, chunk_tokens=512).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("pack_bin").cast("bigint").alias("pack_bin"),
        "chunk_id",
        "doc_tok_start",
        "doc_tok_end",
        "chunk_tok_start",
    )


SQL_CURATION_CHUNK_MANIFEST = r"""
WITH t AS (SELECT doc_id, doc_id % 8 AS pack_bin,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           FROM documents),
c AS (SELECT doc_id, pack_bin, n_tokens,
             COALESCE(sum(n_tokens) OVER (PARTITION BY pack_bin ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM t),
m AS (SELECT doc_id, pack_bin, n_tokens, before,
             unnest(range(CAST(floor(before / 512) AS BIGINT),
                          CAST(floor((before + n_tokens - 1) / 512) AS BIGINT) + 1)) AS ch
      FROM c WHERE n_tokens > 0)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(pack_bin AS BIGINT) AS pack_bin,
       CAST(ch AS BIGINT) AS chunk_id,
       CAST(greatest(0, ch * 512 - before) AS BIGINT) AS doc_tok_start,
       CAST(least(n_tokens, (ch + 1) * 512 - before) AS BIGINT) AS doc_tok_end,
       CAST(greatest(0, before - ch * 512) AS BIGINT) AS chunk_tok_start
FROM m
"""


_BIND_TABLES = {
    "nation": ("n_nationkey", "n_regionkey"),
    "customer": ("c_custkey", "c_nationkey"),
    "supplier": ("s_nationkey", "s_suppkey"),
}


def q_discovery_binary_inds_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mind level-2 binary IND mining (discovery.py::mine_binary_inds,
    mind.cpp:209-261) over three 2-column key projections, reporting every
    apriori candidate WITH its verdict: at sf0.01 several candidates pass
    the unary apriori gate yet fail exact pair verification (e.g. supplier
    (nationkey, suppkey) pairs are not customer (nationkey, custkey) pairs),
    which is exactly the level-2 pruning the algorithm exists to do."""
    from pyspark_validator.discovery import mine_binary_inds

    tables = {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet").select(*cols)
        for t, cols in _BIND_TABLES.items()
    }
    got = mine_binary_inds(tables, with_verdicts=True)
    rows = [(",".join(lhs), ",".join(rhs), bool(h)) for lhs, rhs, h in got]
    return (
        spark.createDataFrame(rows or [("", "", False)], "lhs string, rhs string, holds boolean")
        .filter(F.col("lhs") != "")
        .orderBy("lhs", "rhs")
    )


def _binary_ind_oracle_sql() -> str:
    """Mirror the apriori + verification definition: a candidate exists iff
    both component unary INDs hold (distinct non-null domain containment,
    distinct attrs); its verdict is exact distinct-pair containment."""

    def contained(ta, x, tb, y):
        return (
            f"NOT EXISTS (SELECT 1 FROM (SELECT DISTINCT {x} AS v FROM {ta}) l "
            f"WHERE l.v IS NOT NULL AND NOT EXISTS "
            f"(SELECT 1 FROM {tb} r WHERE r.{y} = l.v))"
        )

    def pair_contained(ta, a1, a2, tb, b1, b2):
        return (
            f"NOT EXISTS (SELECT 1 FROM (SELECT DISTINCT {a1} AS v1, {a2} AS v2 "
            f"FROM {ta}) l WHERE NOT EXISTS "
            f"(SELECT 1 FROM {tb} r WHERE r.{b1} = l.v1 AND r.{b2} = l.v2))"
        )

    rows = []
    for ta, (a1, a2) in _BIND_TABLES.items():
        for tb, cols in _BIND_TABLES.items():
            for b1, b2 in (cols, cols[::-1]):
                if (f"{ta}.{a1}" == f"{tb}.{b1}") or (f"{ta}.{a2}" == f"{tb}.{b2}"):
                    continue  # reflexive components never form unary INDs
                cand = f"{contained(ta, a1, tb, b1)} AND {contained(ta, a2, tb, b2)}"
                rows.append(
                    f"SELECT '{ta}.{a1},{ta}.{a2}' AS lhs, "
                    f"'{tb}.{b1},{tb}.{b2}' AS rhs, "
                    f"{pair_contained(ta, a1, a2, tb, b1, b2)} AS holds "
                    f"WHERE {cand}"
                )
    return "\nUNION ALL ".join(rows) + "\nORDER BY lhs, rhs"


SQL_DISCOVERY_BINARY_INDS_KEYS = _binary_ind_oracle_sql()


_AR_ITEMS = ["click", "error", "purchase", "signup", "view"]
_AR_MINSUP = 0.12
_AR_MINCONF = 0.35


def q_discovery_ars_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori association-rule discovery (discovery.py::mine_ars,
    ar_algorithm.cpp GenerateRulesFrom + ar_stats_calculator.cpp:33-70
    support/confidence definitions) over per-(user, day) sessions of event
    types: at sf0.01 the 4k transactions span sizes 1..5, so both the minsup
    gate and the minconf gate do real pruning (unlike per-user transactions,
    where every user has all five types). The oracle enumerates all 31
    itemset counts as filtered aggregates over per-transaction bool flags
    and replays rule generation with the same exact-count thresholds."""
    from pyspark_validator.discovery import mine_ars

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tx = ev.select(
        F.concat_ws(
            "|", F.col("user_id").cast("string"), F.to_date("ts").cast("string")
        ).alias("tid"),
        F.col("event_type").alias("item"),
    )
    rules = mine_ars(
        tx, tid_col="tid", item_col="item", minsup=_AR_MINSUP, minconf=_AR_MINCONF
    )
    rows = [
        (",".join(l), ",".join(r), round(s, 9), round(c, 9)) for l, r, s, c in rules
    ]
    return (
        spark.createDataFrame(
            rows or [("", "", 0.0, 0.0)],
            "lhs string, rhs string, support double, confidence double",
        )
        .filter(F.col("lhs") != "")
        .orderBy("lhs", "rhs")
    )


def _ar_discovery_oracle_sql() -> str:
    """Mirror mine_ars: one CTE of per-transaction item flags (a transaction
    = one (user, day) group; duplicate items collapse exactly like
    collect_set), one CTE of all 31 itemset transaction counts, then every
    (lhs, rhs) partition of every itemset with supp(Z)/n >= minsup and
    supp(Z)/supp(lhs) >= minconf spelled out from the same integer counts."""
    from itertools import combinations as _comb

    items = _AR_ITEMS

    def cname(sub):
        return "c_" + "_".join(str(items.index(i)) for i in sub)

    flags = ", ".join(
        f"bool_or(event_type = '{i}') AS b_{k}" for k, i in enumerate(items)
    )
    tx = (
        "tx AS (SELECT user_id, CAST(ts AS DATE) AS d, "
        + flags
        + " FROM events GROUP BY 1, 2)"
    )
    subs = [s for k in range(1, len(items) + 1) for s in _comb(items, k)]
    cexprs = ", ".join(
        "count(*) FILTER (WHERE "
        + " AND ".join(f"b_{items.index(i)}" for i in sub)
        + f") AS {cname(sub)}"
        for sub in subs
    )
    c = f"c AS (SELECT count(*) AS n, {cexprs} FROM tx)"
    rows = []
    for z in subs:
        if len(z) < 2:
            continue
        for r in range(1, len(z)):
            for lhs in _comb(z, r):
                rhs = tuple(i for i in z if i not in lhs)
                cond = (
                    f"CAST({cname(z)} AS DOUBLE) / n >= {_AR_MINSUP} AND "
                    f"CAST({cname(z)} AS DOUBLE) / {cname(lhs)} >= {_AR_MINCONF}"
                )
                rows.append(
                    f"SELECT '{','.join(lhs)}' AS lhs, '{','.join(rhs)}' AS rhs, "
                    f"round(CAST({cname(z)} AS DOUBLE) / n, 9) AS support, "
                    f"round(CAST({cname(z)} AS DOUBLE) / {cname(lhs)}, 9) AS confidence "
                    f"FROM c WHERE {cond}"
                )
    return (
        "WITH "
        + tx
        + ",\n"
        + c
        + "\n"
        + "\nUNION ALL ".join(rows)
        + "\nORDER BY lhs, rhs"
    )


SQL_DISCOVERY_ARS_EVENTS = _ar_discovery_oracle_sql()


# --- CFD discovery (cfd_discovery.py::mine_cfds, FDFirst semantics) --------

_CFD_COLS = ["status", "prio", "klass"]
_CFD_MINSUP = 1200
_CFD_MINCONF = 0.9
_CFD_MAXLHS = 2


def q_discovery_cfds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FDFirst CFD discovery (cfd_discovery.py::mine_cfds; reference
    cfd/fd_first_algorithm.cpp) over orders with a planted near-FD: klass =
    hot for urgent/high priorities except a deterministic o_orderkey%97
    noise stripe, else cold. The truth exercises every rule kind: variable
    rules ((prio) => klass at ~0.9956), mixed patterns ((status=F, prio) =>
    klass), constant rules ((prio=1-URGENT) => klass=hot at ~0.99), EXACT
    constant rules ((prio=3-MEDIUM) => klass=cold) whose specializations the
    Precedes pruning must remove, and const-partition skips ((status,
    prio=3-MEDIUM) => klass carries a single RHS value and must vanish). The
    oracle replays the whole closed form in DuckDB: pattern lattice via
    per-(S,rhs,C) aggregates, local skips, freeness, and the exact-rule
    NOT EXISTS precedence join."""
    from pyspark_validator.cfd_discovery import mine_cfds

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = o.select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderkey") % 97 != 0),
            "hot",
        )
        .otherwise("cold")
        .alias("klass"),
    )
    rules = mine_cfds(
        t, min_supp=_CFD_MINSUP, min_conf=_CFD_MINCONF, max_lhs=_CFD_MAXLHS
    )
    rows = [
        (
            ",".join(a for a, v in r.lhs if v is None),
            ",".join(f"{a}={v}" for a, v in r.lhs if v is not None),
            r.rhs_attr,
            r.rhs_const or "",
            r.support,
            round(r.confidence, 9),
        )
        for r in rules
    ]
    return (
        spark.createDataFrame(
            rows or [("__none__", "", "", "", 0, 0.0)],
            "wild string, consts string, rhs_attr string, rhs_val string, "
            "support long, confidence double",
        )
        .filter(F.col("rhs_attr") != "")
        .orderBy("wild", "consts", "rhs_attr", "rhs_val")
    )


def _cfd_discovery_oracle_sql() -> str:
    """Mirror mine_cfds' order-independent closed form in DuckDB: a finest
    group-by CTE, one lhs-cluster CTE per (attr set S, rhs), one aggregate
    per pattern shape (S, rhs, C subset of lhs), local skips (variable rules
    need two RHS values; FD rules need a free lhs), then the exact-rule
    Precedes pruning as a NOT EXISTS self-join over role/value columns."""
    from itertools import combinations as _comb

    cols = _CFD_COLS
    p = len(cols)
    base = (
        "SELECT o_orderstatus AS status, o_orderpriority AS prio, "
        "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "AND o_orderkey % 97 <> 0 THEN 'hot' ELSE 'cold' END AS klass "
        "FROM orders"
    )
    ctes = [f"t AS ({base})"]
    ctes.append(
        "g AS (SELECT "
        + ", ".join(cols)
        + ", count(*) AS n FROM t GROUP BY "
        + ", ".join(cols)
        + ")"
    )

    def dname(sub):
        return "d_" + "_".join(str(cols.index(c)) for c in sub)

    d_subs = [
        s for k in range(1, _CFD_MAXLHS + 1) for s in _comb(cols, k)
    ]
    ctes.append(
        "d AS (SELECT "
        + ", ".join(
            f"count(DISTINCT ({','.join(s) if len(s) > 1 else s[0] + ',' + s[0]}))"
            f" AS {dname(s)}"
            for s in d_subs
        )
        + " FROM t)"
    )

    sets_s = [
        s for k in range(2, _CFD_MAXLHS + 2) for s in _comb(cols, k)
    ]
    for si, s in enumerate(sets_s):
        if len(s) == p:
            ctes.append(f"gs_{si} AS (SELECT * FROM g)")
        else:
            ctes.append(
                f"gs_{si} AS (SELECT "
                + ", ".join(s)
                + ", sum(n) AS n FROM g GROUP BY "
                + ", ".join(s)
                + ")"
            )

    pairs = []  # (lid, S, rhs, lhs)
    for si, s in enumerate(sets_s):
        for rhs in s:
            lhs = tuple(c for c in s if c != rhs)
            lid = f"l_{si}_{cols.index(rhs)}"
            pairs.append((lid, s, rhs, lhs))
            lcols = ", ".join(lhs)
            ctes.append(
                f"{lid} AS (SELECT {lcols}, sum(n) AS sz, max(n) AS best, "
                f"max(CASE WHEN n = mx THEN {rhs} END) AS bv, "
                f"min({rhs}) AS vmn, max({rhs}) AS vmx "
                f"FROM (SELECT *, max(n) OVER (PARTITION BY {lcols}) AS mx "
                f"FROM gs_{si}) z GROUP BY {lcols})"
            )

    conf = "(1.0 - CAST(supp - sat AS DOUBLE) / supp)"
    cand_sel = []
    for lid, s, rhs, lhs in pairs:
        for k in range(0, len(lhs) + 1):
            for csub in _comb(lhs, k):
                roles = [
                    "c" if c in csub else ("v" if c in lhs else "-")
                    for c in cols
                ]
                wild = ",".join(c for c in lhs if c not in csub)
                if csub:
                    consts = " || ',' || ".join(
                        f"'{c}=' || {c}" for c in cols if c in csub
                    )
                else:
                    consts = "''"
                is_const_rule = len(csub) == len(lhs)
                rhs_val = "bv" if is_const_rule else "''"
                inner = (
                    "SELECT "
                    + (", ".join(csub) + ", " if csub else "")
                    + "sum(sz) AS supp, sum(best) AS sat, min(vmn) AS vmn, "
                    f"max(vmx) AS vmx, max(bv) AS bv FROM {lid}"
                    + (" GROUP BY " + ", ".join(csub) if csub else "")
                )
                conds = [
                    f"supp >= {_CFD_MINSUP}",
                    f"{conf} >= {_CFD_MINCONF}",
                ]
                if not is_const_rule:
                    conds.append("vmn <> vmx")
                if not csub and len(lhs) >= 2:
                    # FD rule: lhs must be a generator (free)
                    conds += [
                        f"d.{dname(lhs)} <> d.{dname(sub)}"
                        for size in range(1, len(lhs))
                        for sub in _comb(lhs, size)
                    ]
                vals = ", ".join(
                    (f"q.{c}" if roles[i] == "c" else "CAST(NULL AS VARCHAR)")
                    + f" AS v_{i}"
                    for i, c in enumerate(cols)
                )
                role_lits = ", ".join(
                    f"'{r}' AS r_{i}" for i, r in enumerate(roles)
                )
                cand_sel.append(
                    f"SELECT '{wild}' AS wild, {consts} AS consts, "
                    f"'{rhs}' AS rhs_attr, {rhs_val} AS rhs_val, "
                    f"{len(lhs)} AS nit, {role_lits}, {vals}, supp, sat "
                    f"FROM ({inner}) q, d WHERE " + " AND ".join(conds)
                )
    ctes.append("cand AS (\n" + "\nUNION ALL ".join(cand_sel) + "\n)")

    per_attr_precede = " AND ".join(
        f"(e.r_{i} = '-' OR (e.r_{i} = 'v' AND c.r_{i} <> '-') "
        f"OR (e.r_{i} = 'c' AND c.r_{i} = 'c' AND e.v_{i} = c.v_{i}))"
        for i in range(p)
    )
    identical = " AND ".join(
        f"e.r_{i} = c.r_{i} AND e.v_{i} IS NOT DISTINCT FROM c.v_{i}"
        for i in range(p)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT wild, consts, rhs_attr, rhs_val, "
        "CAST(supp AS BIGINT) AS support, "
        f"round({conf}, 9) AS confidence "
        "FROM cand c WHERE NOT EXISTS ("
        "SELECT 1 FROM cand e WHERE e.sat = e.supp "
        "AND e.rhs_attr = c.rhs_attr AND e.rhs_val = c.rhs_val "
        "AND e.nit <= c.nit "
        f"AND NOT ({identical}) AND {per_attr_precede})\n"
        "ORDER BY wild, consts, rhs_attr, rhs_val"
    )


SQL_DISCOVERY_CFDS_ORDERS = _cfd_discovery_oracle_sql()


def q_curation_domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (pipelines/curation.py::cap_per_group, exact mode): keep
    the 10 md5-rank winners per source. Deterministic survivors, so the
    oracle re-derives the identical set via the same window."""
    from pyspark_validator.pipelines.curation import cap_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = cap_per_group(docs, "source", cap=10, id_col="doc_id", salt="cap")
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("source")
    )


SQL_CURATION_DOMAIN_CAP_DOCS = """
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '|cap'), 1, 12), doc_id
         ) AS rk
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM r WHERE rk <= 10 GROUP BY source ORDER BY source
"""


# --- level-2 lattice discovery (discovery.py round-2 additions) -----------

_FD_DISCOVERY_COLS = [
    "o_custkey",
    "o_orderstatus",
    "o_orderdate",
    "o_orderpriority",
    "o_totalprice",
]
_AFD_DISCOVERY_COLS = ["o_custkey", "o_orderstatus", "o_orderdate", "o_totalprice"]
_AFD_MAX_ERROR = 1e-5


def q_discovery_fds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal exact FDs with |LHS| <= 3 over five orders columns
    (discovery.py::mine_fds, the TANE lattice walked level-wise -- one
    batched grouping-sets job per level). At sf0.01 the truth mixes levels:
    o_totalprice -> status/priority at level 1 plus pair-key FDs like
    (o_custkey, o_totalprice) -> o_orderdate at level 2; level 3 candidates
    are generated and (mostly) pruned by the level-2 survivors. The oracle
    replays the distinct-count criterion + full subset minimality."""
    from pyspark_validator.discovery import mine_fds

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fds = mine_fds(o, _FD_DISCOVERY_COLS, max_lhs=3)
    rows = [(",".join(lhs), rhs) for lhs, rhs in fds]
    return (
        spark.createDataFrame(rows or [("__none__", "")], ["lhs", "rhs"])
        .filter(F.col("rhs") != "")
        .orderBy("lhs", "rhs")
    )


def _fd_discovery_oracle_sql(max_lhs: int = 3) -> str:
    """Generate the DuckDB oracle for q_discovery_fds_orders: one CTE of all
    row-value distinct counts up to size max_lhs+1, then every candidate with
    the TANE criterion and FULL subset-minimality spelled out. Row-value
    structs ((a,b)) count NULL as a value in both engines, matching groupBy."""
    cols = _FD_DISCOVERY_COLS

    def dname(sub):
        return "d_" + "_".join(str(cols.index(c)) for c in sub)

    def dexpr(sub):
        inner = ",".join(sub) if len(sub) > 1 else f"{sub[0]},{sub[0]}"
        return f"count(DISTINCT ({inner})) AS {dname(sub)}"

    from itertools import combinations as _comb

    subs = [
        s for k in range(1, max_lhs + 2) for s in _comb(cols, k)
    ]
    cte = "WITH c AS (SELECT " + ", ".join(dexpr(s) for s in subs) + " FROM orders)"

    def d(sub):
        return dname(tuple(sorted(sub, key=cols.index)))

    def holds(lhs, rhs):
        if not lhs:
            return f"{d((rhs,))} = 1"
        return f"{d(lhs)} = {d(lhs + (rhs,))}"

    rows = []
    for rhs in cols:
        others = [c for c in cols if c != rhs]
        for k in range(0, max_lhs + 1):
            for lhs in _comb(others, k):
                conds = [holds(lhs, rhs)] + [
                    f"NOT ({holds(sub, rhs)})"
                    for size in range(k)
                    for sub in _comb(lhs, size)
                ]
                label = ",".join(lhs)
                rows.append(
                    f"SELECT '{label}' AS lhs, '{rhs}' AS rhs, "
                    + " AND ".join(conds)
                    + " AS m FROM c"
                )
    return (
        cte
        + "\nSELECT lhs, rhs FROM (\n"
        + "\nUNION ALL ".join(rows)
        + "\n) WHERE m ORDER BY lhs, rhs"
    )


SQL_DISCOVERY_FDS_ORDERS = _fd_discovery_oracle_sql()


def q_discovery_afds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal approximate FDs under a g1 budget (discovery.py::mine_afds,
    the TANE-with-error lattice the reference's AFD benchmark gates run,
    fd_benchmark.h:40-49). g1 <= 1e-5 keeps it discriminating at sf0.01:
    near-key LHS nodes qualify, 10-row o_custkey clusters do not."""
    from pyspark_validator.discovery import mine_afds

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    afds = mine_afds(o, _AFD_DISCOVERY_COLS, max_error=_AFD_MAX_ERROR)
    rows = [(",".join(lhs), rhs, round(g1, 9)) for lhs, rhs, g1 in afds]
    return (
        spark.createDataFrame(rows or [("__none__", "", 0.0)], ["lhs", "rhs", "g1"])
        .filter(F.col("rhs") != "")
        .select("lhs", "rhs", F.col("g1").cast("double").alias("g1"))
        .orderBy("lhs", "rhs")
    )


def _afd_discovery_oracle_sql() -> str:
    """Generate the DuckDB oracle for q_discovery_afds_orders: one CTE per
    candidate computing g1 = (sum cx(cx-1) - sum cxy(cxy-1)) / (n^2 - n)
    (afd_measures.cpp:6-130), then threshold + subset minimality on the g1
    values themselves."""
    from itertools import combinations as _comb

    cols = _AFD_DISCOVERY_COLS
    e = repr(_AFD_MAX_ERROR)

    def gname(lhs, rhs):
        ix = "_".join(str(cols.index(c)) for c in lhs)
        return f"g_{ix}__{cols.index(rhs)}"

    ctes, rows = [], []
    cands = []
    for rhs in cols:
        others = [c for c in cols if c != rhs]
        cands.append(((), rhs))
        cands += [((a,), rhs) for a in others]
        cands += [((a, b), rhs) for a, b in _comb(others, 2)]
    for lhs, rhs in cands:
        keys = ", ".join(lhs + (rhs,))
        xkeys = ", ".join(lhs)
        xy = f"SELECT {keys}, count(*) AS cxy FROM orders GROUP BY {keys}"
        if lhs:
            x = (
                f"SELECT sum(cxy) AS cx, sum(cxy*(cxy-1)) AS yp "
                f"FROM ({xy}) GROUP BY {xkeys}"
            )
        else:
            x = f"SELECT sum(cxy) AS cx, sum(cxy*(cxy-1)) AS yp FROM ({xy})"
        ctes.append(
            f"{gname(lhs, rhs)} AS (SELECT CAST(sum(cx*(cx-1)-yp) AS DOUBLE) /"
            f" (CAST(sum(cx) AS DOUBLE)*sum(cx) - sum(cx)) AS g1 FROM ({x}))"
        )

    def q(lhs, rhs):
        return f"(SELECT g1 FROM {gname(lhs, rhs)}) <= {e}"

    for lhs, rhs in cands:
        minimal = [f"NOT ({q(sub, rhs)})" for k in range(len(lhs)) for sub in _comb(lhs, k)]
        cond = " AND ".join([q(lhs, rhs)] + minimal)
        rows.append(
            f"SELECT '{','.join(lhs)}' AS lhs, '{rhs}' AS rhs, "
            f"round((SELECT g1 FROM {gname(lhs, rhs)}), 9) AS g1 WHERE {cond}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(rows) + "\nORDER BY lhs, rhs"
    )


SQL_DISCOVERY_AFDS_ORDERS = _afd_discovery_oracle_sql()


_UCC_DISCOVERY_COLS = [
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_extendedprice",
    "l_shipdate",
]


def q_discovery_uccs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal UCCs of arity <= 2 over five lineitem columns
    (discovery.py::mine_uccs, the HyUCC base levels): no single column is a
    key at sf0.01, three pairs are. One grouping-sets job judges all 15
    candidates; the oracle replays distinct-count-equals-rowcount +
    minimality."""
    from pyspark_validator.discovery import mine_uccs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    uccs = mine_uccs(li, _UCC_DISCOVERY_COLS, max_arity=2)
    rows = [(",".join(u),) for u in uccs]
    return (
        spark.createDataFrame(rows or [("",)], ["ucc"])
        .filter(F.col("ucc") != "")
        .orderBy("ucc")
    )


def _ucc_discovery_oracle_sql() -> str:
    from itertools import combinations as _comb

    cols = _UCC_DISCOVERY_COLS

    def dname(sub):
        return "d_" + "_".join(str(cols.index(c)) for c in sub)

    def dexpr(sub):
        inner = ",".join(sub) if len(sub) > 1 else f"{sub[0]},{sub[0]}"
        return f"count(DISTINCT ({inner})) AS {dname(sub)}"

    subs = [(c,) for c in cols] + list(_comb(cols, 2))
    cte = (
        "WITH c AS (SELECT count(*) AS n, "
        + ", ".join(dexpr(s) for s in subs)
        + " FROM lineitem)"
    )
    rows = [
        f"SELECT '{c}' AS ucc, {dname((c,))} = n AS m FROM c" for c in cols
    ]
    rows += [
        f"SELECT '{a},{b}', {dname((a, b))} = n AND {dname((a,))} <> n "
        f"AND {dname((b,))} <> n FROM c"
        for a, b in _comb(cols, 2)
    ]
    return (
        cte
        + "\nSELECT ucc FROM (\n"
        + "\nUNION ALL ".join(rows)
        + "\n) WHERE m ORDER BY ucc"
    )


SQL_DISCOVERY_UCCS_LINEITEM = _ucc_discovery_oracle_sql()


def q_discovery_ainds_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mind-style AIND discovery at max_error = 0.8 -- the reference's own
    Mind benchmark setting (ind_benchmark.h:43-50) -- over the
    nation/region/customer/supplier key columns. The error is the fraction
    of the dependent column's distinct values missing from the referenced
    one (mind.cpp:190-204); at 0.8 the nationkey -> regionkey pairs sit
    exactly on the boundary (20 of 25 values missing)."""
    from pyspark_validator.discovery import mine_ainds

    tables = {
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_regionkey"
        ),
        "region": spark.read.parquet(f"{sf_dir}/region.parquet").select(
            "r_regionkey"
        ),
        "customer": spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_nationkey"
        ),
        "supplier": spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
            "s_nationkey"
        ),
    }
    ainds = mine_ainds(tables, max_error=0.8)
    rows = [(a, b, round(err, 9)) for a, b, err in ainds]
    return (
        spark.createDataFrame(
            rows or [("__none__", "", 0.0)], ["dependent", "referenced", "error"]
        )
        .filter(F.col("referenced") != "")
        .select(
            "dependent", "referenced", F.col("error").cast("double").alias("error")
        )
        .orderBy("dependent", "referenced")
    )


SQL_DISCOVERY_AINDS_KEYS = """
WITH tagged AS (
  SELECT DISTINCT CAST(n_nationkey AS VARCHAR) AS value, 'nation.n_nationkey' AS attr FROM nation WHERE n_nationkey IS NOT NULL
  UNION SELECT DISTINCT CAST(n_regionkey AS VARCHAR), 'nation.n_regionkey' FROM nation WHERE n_regionkey IS NOT NULL
  UNION SELECT DISTINCT CAST(r_regionkey AS VARCHAR), 'region.r_regionkey' FROM region WHERE r_regionkey IS NOT NULL
  UNION SELECT DISTINCT CAST(c_nationkey AS VARCHAR), 'customer.c_nationkey' FROM customer WHERE c_nationkey IS NOT NULL
  UNION SELECT DISTINCT CAST(s_nationkey AS VARCHAR), 'supplier.s_nationkey' FROM supplier WHERE s_nationkey IS NOT NULL),
tot AS (SELECT attr, count(*) AS n_values FROM tagged GROUP BY attr),
pair AS (SELECT d.attr AS a, r.attr AS b, count(*) AS together
         FROM tagged d JOIN tagged r ON d.value = r.value AND d.attr <> r.attr
         GROUP BY d.attr, r.attr)
SELECT p.a AS dependent, p.b AS referenced,
       round(CAST(t.n_values - p.together AS DOUBLE) / t.n_values, 9) AS error
FROM pair p JOIN tot t ON t.attr = p.a
WHERE CAST(t.n_values - p.together AS DOUBLE) / t.n_values <= 0.8
ORDER BY dependent, referenced
"""


# --- FASTOD set-based OD discovery (od_discovery.py) ----------------------

_OD_DISCOVERY_COLS = ["l_shipdate", "ship_month", "l_quantity", "days_left"]


def q_discovery_ods_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FASTOD set-based canonical OD discovery (od_discovery.mine_set_ods,
    reference od/fastod/fastod.cpp Discover) truncated at level 2, over a
    lineitem projection with planted order structure: ship_month is monotone
    with l_shipdate (asc~asc compatibilities both ways), days_left =
    1998-12-31 - l_shipdate is anti-monotone (desc~asc compatibilities with
    both date forms), and l_quantity breaks every candidate it touches. The
    level<=2 slice emits constants, unary FDs and empty-context order
    compatibilities -- each one closed-form SQL-checkable, so the oracle
    replays every candidate verdict including the negatives."""
    from pyspark_validator.od_discovery import mine_set_ods

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sd = F.to_date(F.col("l_shipdate"))
    df = li.select(
        sd.alias("l_shipdate"),
        F.trunc(sd, "month").alias("ship_month"),
        "l_quantity",
        F.datediff(F.lit("1998-12-31").cast("date"), sd).alias("days_left"),
    )
    res = mine_set_ods(df, _OD_DISCOVERY_COLS, max_level=2)
    rows = [(s,) for s in res.to_strings()]
    return (
        spark.createDataFrame(rows or [("__none__",)], ["od"])
        .filter(F.col("od") != "__none__")
        .orderBy("od")
    )


def _od_discovery_oracle_sql() -> str:
    """Generate the DuckDB oracle for q_discovery_ods_lineitem: the exact
    level<=2 FASTOD slice spelled out per candidate. Level-1 simple ODs are
    constant checks; level-2 simple ODs are unary FDs (distinct-count
    criterion) guarded by both columns being non-constant (the walk's CC
    pruning empties every context containing a constant column); level-2
    order compatibilities check Swap-freeness closed-form -- group by the
    left column, a swap exists iff some left-value's min(right) undercuts
    the running max(right) over strictly smaller (asc) / larger (desc) left
    values. No other pruning can fire at level <= 2."""
    cols = _OD_DISCOVERY_COLS
    p = len(cols)
    from itertools import combinations as _comb

    def d(*idx):
        return "d_" + "_".join(str(i) for i in sorted(idx))

    singles = ", ".join(
        f"count(DISTINCT {c}) AS {d(i)}" for i, c in enumerate(cols)
    )
    pairs = ", ".join(
        f"count(DISTINCT ({cols[i]},{cols[j]})) AS {d(i, j)}"
        for i, j in _comb(range(p), 2)
    )
    cte = (
        "WITH t AS (SELECT CAST(l_shipdate AS DATE) AS l_shipdate, "
        "date_trunc('month', CAST(l_shipdate AS DATE)) AS ship_month, "
        "l_quantity, "
        "date_diff('day', CAST(l_shipdate AS DATE), DATE '1998-12-31') "
        "AS days_left FROM lineitem),\n"
        f"c AS (SELECT {singles}, {pairs} FROM t)"
    )

    def swap_viol(a: int, b: int, desc: bool) -> str:
        order = f"{cols[a]} DESC" if desc else cols[a]
        return (
            f"(SELECT coalesce(bool_or(pmx > mn), FALSE) FROM "
            f"(SELECT min({cols[b]}) AS mn, "
            f"max(max({cols[b]})) OVER (ORDER BY {order} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmx "
            f"FROM t GROUP BY {cols[a]}))"
        )

    rows = []
    for a, c in enumerate(cols):
        rows.append(
            f"SELECT '{{}} : [] -> {c}' AS od, (SELECT {d(a)} = 1 FROM c) AS m"
        )
    for x in range(p):
        for a in range(p):
            if a == x:
                continue
            rows.append(
                f"SELECT '{{{cols[x]}}} : [] -> {cols[a]}', "
                f"(SELECT {d(x)} > 1 AND {d(a)} > 1 AND {d(x, a)} = {d(x)} "
                f"FROM c)"
            )
    for a in range(p):
        for b in range(p):
            if a == b:
                continue
            guard = f"(SELECT {d(a)} > 1 AND {d(b)} > 1 FROM c)"
            rows.append(
                f"SELECT '{{}} : {cols[a]}<= ~ {cols[b]}<=', "
                f"{guard} AND NOT {swap_viol(a, b, False)}"
            )
            rows.append(
                f"SELECT '{{}} : {cols[a]}>= ~ {cols[b]}<=', "
                f"{guard} AND NOT {swap_viol(a, b, True)}"
            )
    return (
        cte
        + "\nSELECT od FROM (\n"
        + "\nUNION ALL ".join(rows)
        + "\n) WHERE m ORDER BY od"
    )


SQL_DISCOVERY_ODS_LINEITEM = _od_discovery_oracle_sql()


# --- PFDTane probabilistic-FD discovery (pfd_discovery.py) ----------------

_PFD_DISCOVERY_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey"]
_PFD_DISCOVERY_ERROR = 0.5


def q_discovery_pfds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PFDTane per-tuple probabilistic-FD discovery (pfd_discovery.mine_pfds,
    reference fd/tane/pfdtane.cpp) truncated at |LHS| <= 2 over four orders
    columns at max_error 0.5 -- discriminating at sf0.01: one unary FD
    (o_orderdate -> o_orderstatus, err 0.472), five minimal pairs including
    a near-threshold one ((o_orderstatus,o_custkey) -> o_orderpriority,
    err 0.499), and both non-minimality prunes (pairs containing o_orderdate
    for RHS o_orderstatus) and threshold rejections (every RHS o_orderdate
    candidate). The per-tuple measure is monotone under LHS refinement, so
    the walk's candidate propagation equals subset minimality and the oracle
    can spell the lattice out closed-form (cross-checked against the exact
    pandas walk replica, scripts/pfdtane_oracle.py, on this very config)."""
    from pyspark_validator.pfd_discovery import mine_pfds

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pfds = mine_pfds(
        o,
        _PFD_DISCOVERY_COLS,
        max_error=_PFD_DISCOVERY_ERROR,
        error_measure="per_tuple",
        max_lhs=2,
    )
    rows = [(",".join(lhs), rhs) for lhs, rhs in pfds]
    return (
        spark.createDataFrame(rows or [("__none__", "")], ["lhs", "rhs"])
        .filter(F.col("rhs") != "")
        .orderBy("lhs", "rhs")
    )


def _pfd_discovery_oracle_sql() -> str:
    """Generate the DuckDB oracle for q_discovery_pfds_orders: one CTE per
    candidate computing the per-tuple PFD error 1 - sum(per-X-group max RHS
    count)/n (pfdtane.cpp:45-62; singleton groups contribute their max of 1,
    so the stripped-partition special case folds away), then threshold +
    subset minimality over every subset including the zero-ary one."""
    from itertools import combinations as _comb

    cols = _PFD_DISCOVERY_COLS
    e = repr(_PFD_DISCOVERY_ERROR)
    nn = "(SELECT count(*) FROM orders)"

    def gname(lhs, rhs):
        ix = "_".join(str(cols.index(c)) for c in lhs)
        return f"pe_{ix}__{cols.index(rhs)}"

    cands, ctes, rows = [], [], []
    for rhs in cols:
        others = [c for c in cols if c != rhs]
        cands.append(((), rhs))
        cands += [((a,), rhs) for a in others]
        cands += [((a, b), rhs) for a, b in _comb(others, 2)]
    for lhs, rhs in cands:
        keys = ", ".join(lhs + (rhs,))
        xy = f"SELECT {keys}, count(*) AS cxy FROM orders GROUP BY {keys}"
        if lhs:
            inner = f"SELECT max(cxy) AS mx FROM ({xy}) GROUP BY {', '.join(lhs)}"
            err = f"1.0 - CAST(sum(mx) AS DOUBLE) / {nn}"
        else:
            inner = f"SELECT max(cxy) AS mx FROM ({xy})"
            err = f"1.0 - CAST(max(mx) AS DOUBLE) / {nn}"
        ctes.append(f"{gname(lhs, rhs)} AS (SELECT {err} AS err FROM ({inner}))")

    def q(lhs, rhs):
        return f"(SELECT err FROM {gname(lhs, rhs)}) <= {e}"

    for lhs, rhs in cands:
        minimal = [
            f"NOT ({q(sub, rhs)})" for k in range(len(lhs)) for sub in _comb(lhs, k)
        ]
        cond = " AND ".join([q(lhs, rhs)] + minimal)
        rows.append(
            f"SELECT '{','.join(lhs)}' AS lhs, '{rhs}' AS rhs WHERE {cond}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(rows)
        + "\nORDER BY lhs, rhs"
    )


SQL_DISCOVERY_PFDS_ORDERS = _pfd_discovery_oracle_sql()


# --- TANE AFD-measure mining (pfd_discovery.mine_afds_tane) ----------------

_AFD_TANE_ERROR = 0.62


def q_discovery_afds_tane_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TANE approximate-FD mining under the pdep measure
    (pfd_discovery.mine_afds_tane, reference fd/tane/tane.cpp:13-50 with
    afd_error_measure=kPdep; hash goldens test_tane_afd_measures.cpp) over
    the same four orders columns at |LHS| <= 2, error 0.62 -- discriminating
    at sf0.01: two unary AFDs (o_orderdate/o_custkey -> o_orderstatus, errs
    0.561/0.599), six minimal pairs, and real minimality prunes (all three
    binary o_orderstatus candidates contain a registered unary subset).
    pdep refines monotonically under LHS growth, so the walk's candidate
    propagation equals subset minimality and the oracle spells the lattice
    closed-form; walk == minimality cross-checked against the exact python
    replica (scripts/pfdtane_oracle.brute_force_tane_afd) on this very
    config at sf0.001 and sf0.01.  Zero-ary candidates are absent by
    construction: the non-g1 zero-ary error is a constant 1 (tane.cpp:20-24).
    """
    from pyspark_validator.pfd_discovery import mine_afds_tane

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    afds = mine_afds_tane(
        o,
        _PFD_DISCOVERY_COLS,
        max_error=_AFD_TANE_ERROR,
        error_measure="pdep",
        max_lhs=2,
    )
    rows = [(",".join(lhs), rhs) for lhs, rhs in afds]
    return (
        spark.createDataFrame(rows or [("__none__", "")], ["lhs", "rhs"])
        .filter(F.col("rhs") != "")
        .orderBy("lhs", "rhs")
    )


def _afd_tane_oracle_sql() -> str:
    """Generate the DuckDB oracle for q_discovery_afds_tane_orders: one CTE
    per candidate computing the pdep error 1 - sum_X((sum_XA cnt^2)/cx)/n
    (afd_metric_calculator.cpp:103-142 over PLIs with singletons -- every
    value combination is a group, so no stripped-partition special case),
    then threshold + subset minimality over the non-empty proper subsets
    (the zero-ary error is constant 1, so it can never qualify)."""
    from itertools import combinations as _comb

    cols = _PFD_DISCOVERY_COLS
    e = repr(_AFD_TANE_ERROR)
    nn = "(SELECT count(*) FROM orders)"

    def gname(lhs, rhs):
        ix = "_".join(str(cols.index(c)) for c in lhs)
        return f"ape_{ix}__{cols.index(rhs)}"

    cands, ctes, rows = [], [], []
    for rhs in cols:
        others = [c for c in cols if c != rhs]
        cands += [((a,), rhs) for a in others]
        cands += [((a, b), rhs) for a, b in _comb(others, 2)]
    for lhs, rhs in cands:
        keys = ", ".join(lhs + (rhs,))
        xy = f"SELECT {keys}, count(*) AS cxy FROM orders GROUP BY {keys}"
        grp = (
            f"SELECT sum(CAST(cxy AS DOUBLE) * cxy) / sum(cxy) AS g "
            f"FROM ({xy}) GROUP BY {', '.join(lhs)}"
        )
        err = f"1.0 - sum(g) / {nn}"
        ctes.append(f"{gname(lhs, rhs)} AS (SELECT {err} AS err FROM ({grp}))")

    def q(lhs, rhs):
        return f"(SELECT err FROM {gname(lhs, rhs)}) <= {e}"

    for lhs, rhs in cands:
        minimal = [
            f"NOT ({q(sub, rhs)})"
            for k in range(1, len(lhs))
            for sub in _comb(lhs, k)
        ]
        cond = " AND ".join([q(lhs, rhs)] + minimal)
        rows.append(
            f"SELECT '{','.join(lhs)}' AS lhs, '{rhs}' AS rhs WHERE {cond}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(rows)
        + "\nORDER BY lhs, rhs"
    )


SQL_DISCOVERY_AFDS_TANE_ORDERS = _afd_tane_oracle_sql()


# --- Split DD discovery (dd_discovery.py) ----------------------------------


def q_discovery_dds_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split DD discovery (dd_discovery.mine_dds, reference
    dd/split/split.cpp kIeHybrid) over a planted 2-column integer frame:
    xv = l_linenumber, yv = 5*xv + (l_partkey mod 5), so |dy| tracks 5|dx|
    with jitter and both default ladders [0, 4..0] are live. With exactly
    two columns the transitivity fixpoint can never fire (a removable DD
    would need lhs and rhs on the same column, which the search spaces
    exclude) and the redundancy fixpoint reduces to the per-direction
    Pareto frontier of (broadest lhs level, tightest rhs level) -- the
    oracle spells that frontier out closed-form from the pair distances
    (validated against the miner, which itself carries the reference's
    seven test_split.cpp goldens)."""
    from pyspark_validator.dd_discovery import mine_dds

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    frame = li.select(
        F.col("l_linenumber").cast("int").alias("xv"),
        (F.col("l_linenumber") * 5 + F.pmod(F.col("l_partkey"), F.lit(5)))
        .cast("int")
        .alias("yv"),
    )
    dds = mine_dds(frame, ["xv", "yv"])
    rows = [
        (
            d.left[0][0], float(d.left[0][1]), float(d.left[0][2]),
            d.right[0][0], float(d.right[0][1]), float(d.right[0][2]),
        )
        for d in dds
    ]
    cols = ["lhs_col", "lhs_lb", "lhs_ub", "rhs_col", "rhs_lb", "rhs_ub"]
    return (
        spark.createDataFrame(rows or [("", 0.0, 0.0, "", 0.0, 0.0)], cols)
        .filter(F.col("lhs_col") != "")
        .orderBy(*cols)
    )


def _dd_discovery_oracle_sql() -> str:
    """Generate the DuckDB oracle for q_discovery_dds_lineitem: per column
    the default-ladder bounds ([min_dif, k], k = 4..0 with min <= k < max,
    min_dif = 0 when a value repeats else the smallest adjacent gap,
    split.cpp:361-385,666-674), then per direction the Pareto frontier:
    for each lhs level c the tightest rhs level d >= max(|d_rhs|) over
    distinct-combo pairs with |d_lhs| <= c, keeping (c, d) only when no
    broader lhs level achieves the same d."""
    combos = (
        "SELECT DISTINCT CAST(l_linenumber AS INT) AS xv, "
        "CAST(l_linenumber * 5 + (l_partkey % 5) AS INT) AS yv FROM lineitem"
    )

    def mindif(v):
        return (
            f"(SELECT CASE WHEN (SELECT count(*) FROM t2) > "
            f"(SELECT count(DISTINCT {v}) FROM t2) THEN 0.0 ELSE "
            f"(SELECT min(g) FROM (SELECT {v} - lag({v}) OVER (ORDER BY {v}) AS g "
            f"FROM (SELECT DISTINCT {v} FROM combos)) WHERE g IS NOT NULL) END)"
        )

    def ladder(v, name):
        return (
            f"{name} AS (SELECT k FROM (SELECT UNNEST([4,3,2,1,0]) AS k) "
            f"WHERE k >= (SELECT mn FROM mm_{v}) AND k < (SELECT mx FROM mm_{v}))"
        )

    def direction(lhs, rhs):
        # tightest rhs level per lhs level, then the Pareto filter
        return (
            f"SELECT '{lhs}' AS lhs_col, CAST((SELECT mn FROM mm_{lhs}) AS DOUBLE)"
            f" AS lhs_lb, CAST(c AS DOUBLE) AS lhs_ub, '{rhs}' AS rhs_col, "
            f"CAST((SELECT mn FROM mm_{rhs}) AS DOUBLE) AS rhs_lb, "
            f"CAST(d AS DOUBLE) AS rhs_ub FROM ("
            f"SELECT c, (SELECT min(k) FROM lad_{rhs} WHERE k >= "
            f"(SELECT max(abs(a.{rhs} - b.{rhs})) FROM combos a, combos b "
            f"WHERE abs(a.{lhs} - b.{lhs}) <= c)) AS d "
            f"FROM (SELECT k AS c FROM lad_{lhs})) f1 "
            f"WHERE d IS NOT NULL AND NOT EXISTS ("
            f"SELECT 1 FROM (SELECT c2.k AS c, (SELECT min(k) FROM lad_{rhs} "
            f"WHERE k >= (SELECT max(abs(a.{rhs} - b.{rhs})) FROM combos a, "
            f"combos b WHERE abs(a.{lhs} - b.{lhs}) <= c2.k)) AS d "
            f"FROM lad_{lhs} c2) f2 WHERE f2.c > f1.c AND f2.d = f1.d)"
        )

    return (
        f"WITH combos AS ({combos}),\n"
        f"t2 AS (SELECT * FROM (SELECT xv, yv FROM (SELECT CAST(l_linenumber "
        f"AS INT) AS xv, CAST(l_linenumber * 5 + (l_partkey % 5) AS INT) AS yv "
        f"FROM lineitem))),\n"
        f"mm_xv AS (SELECT {mindif('xv')} AS mn, "
        f"CAST(max(xv) - min(xv) AS DOUBLE) AS mx FROM combos),\n"
        f"mm_yv AS (SELECT {mindif('yv')} AS mn, "
        f"CAST(max(yv) - min(yv) AS DOUBLE) AS mx FROM combos),\n"
        f"{ladder('xv', 'lad_xv')},\n"
        f"{ladder('yv', 'lad_yv')}\n"
        f"{direction('xv', 'yv')}\nUNION ALL\n{direction('yv', 'xv')}\n"
        f"ORDER BY lhs_col, lhs_lb, lhs_ub, rhs_col, rhs_lb, rhs_ub"
    )


SQL_DISCOVERY_DDS_LINEITEM = _dd_discovery_oracle_sql()


# --- HyMD MD discovery (md_discovery.py) ------------------------------------

_MD_DISCOVERY_MINSUP = 1_000_000


def q_discovery_mds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyMD MD discovery (md_discovery.mine_mds, reference md/hymd) with
    equality column matches over four planted orders buckets: xb =
    custkey%100, yb = custkey%10 (xb -> yb), wb = 2*xb+1 (bijective with
    xb), vb = custkey%500 (determines xb and yb but its equality-match
    support sum(c^2) ~ 450k falls below min_support = 1M -- the reference's
    support prune, demonstrated). Equality similarities make every natural
    boundary {0,1}, so the boundary lattice is the subset lattice and the
    mined cover is exactly: S -> m where the FD holds on the buckets,
    support(S) >= minsup, and no immediate subset of S already determines
    m -- spellable closed-form (the miner itself carries the reference's
    animals_beverages goldens for the general Levenshtein lattice)."""
    from pyspark_validator.md_discovery import ColumnMatch, mine_mds

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ck = F.col("o_custkey")
    frame = o.select(
        F.pmod(ck, F.lit(100)).alias("xb"),
        F.pmod(ck, F.lit(10)).alias("yb"),
        (F.pmod(ck, F.lit(100)) * 2 + 1).alias("wb"),
        F.pmod(ck, F.lit(500)).alias("vb"),
    )
    cms = [ColumnMatch(c, c, "equality") for c in ["xb", "yb", "wb", "vb"]]
    mds = mine_mds(frame, cms, min_support=_MD_DISCOVERY_MINSUP)
    names = ["xb", "yb", "wb", "vb"]
    rows = [
        (
            ",".join(n for n, b in zip(names, r.lhs_bounds) if b != 0.0),
            names[r.rhs_index],
            float(r.rhs_bound),
        )
        for r in mds
    ]
    return (
        spark.createDataFrame(rows or [("", "", 0.0)], ["lhs", "rhs", "bound"])
        .filter(F.col("rhs") != "")
        .select("lhs", "rhs", F.col("bound").cast("double").alias("bound"))
        .orderBy("lhs", "rhs")
    )


def _md_discovery_oracle_sql() -> str:
    """Generate the DuckDB oracle for q_discovery_mds_orders: per candidate
    (S, m) the equality-match MD criterion -- FD holds on the bucket frame
    (max per-group distinct-m = 1), ordered-pair support sum(c^2) (n^2 for
    the empty LHS) >= minsup, and minimality against immediate subsets."""
    from itertools import combinations as _comb

    names = ["xb", "yb", "wb", "vb"]
    minsup = _MD_DISCOVERY_MINSUP
    base = (
        "SELECT o_custkey % 100 AS xb, o_custkey % 10 AS yb, "
        "(o_custkey % 100) * 2 + 1 AS wb, o_custkey % 500 AS vb FROM orders"
    )

    def holds(S, m):
        if S:
            return (
                f"((SELECT max(d) FROM (SELECT count(DISTINCT {m}) AS d "
                f"FROM t GROUP BY {', '.join(S)})) = 1)"
            )
        return f"((SELECT count(DISTINCT {m}) FROM t) = 1)"

    def sup(S):
        if S:
            return (
                f"((SELECT CAST(sum(c*c) AS BIGINT) FROM (SELECT count(*) AS c "
                f"FROM t GROUP BY {', '.join(S)})) >= {minsup})"
            )
        return f"((SELECT CAST(count(*) AS BIGINT)*count(*) FROM t) >= {minsup})"

    rows = []
    for m in names:
        others = [c for c in names if c != m]
        for k in range(0, len(others) + 1):
            for S in _comb(others, k):
                minimal = [f"NOT {holds(list(T), m)}" for T in _comb(S, k - 1)] if k else []
                cond = " AND ".join([holds(list(S), m), sup(list(S))] + minimal)
                rows.append(
                    f"SELECT '{','.join(S)}' AS lhs, '{m}' AS rhs, "
                    f"CAST(1.0 AS DOUBLE) AS bound WHERE {cond}"
                )
    return (
        f"WITH t AS ({base})\n" + "\nUNION ALL ".join(rows) + "\nORDER BY lhs, rhs"
    )


SQL_DISCOVERY_MDS_ORDERS = _md_discovery_oracle_sql()


def q_discovery_list_ods_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER list-based OD discovery (order_discovery.mine_list_ods,
    reference od/order/order.cpp) over a 3-column planted frame from orders:
    a literal constant column k (short-circuited valid -> every attribute,
    order.cpp:38-50), odate = o_orderdate, and omonth = its month truncation.
    With exactly two non-constant attributes the whole lattice is level-2
    decidable, so the oracle replays every candidate verdict closed-form:
    lhs -> rhs is valid iff no crossing pair exists (swap) AND no rhs value
    spans two lhs values (merge) -- the CheckForSwap walk's two failure
    modes (dependency_checker.cpp:25-66)."""
    from pyspark_validator.order_discovery import mine_list_ods

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    od = F.to_date(F.col("o_orderdate"))
    df = o.select(
        F.lit(0).alias("k"),
        od.alias("odate"),
        F.trunc(od, "month").alias("omonth"),
    )
    res = mine_list_ods(df, ["k", "odate", "omonth"])
    rows = [(s,) for s in res.to_strings()]
    return (
        spark.createDataFrame(rows or [("__none__",)], ["od"])
        .filter(F.col("od") != "__none__")
        .orderBy("od")
    )


#: the same verdicts in DuckDB: the constant's rules are unconditional, the
#: two non-constant candidates check swap-freeness (no crossing pair over the
#: distinct combos) and merge-freeness (no rhs value with two lhs values).
SQL_DISCOVERY_LIST_ODS_ORDERS = """
WITH t AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS odate,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS omonth
  FROM orders
),
verdicts AS (
  SELECT
    NOT EXISTS (SELECT 1 FROM t t1, t t2
                WHERE t1.odate < t2.odate AND t1.omonth > t2.omonth)
    AND NOT EXISTS (SELECT 1 FROM t GROUP BY omonth
                    HAVING COUNT(DISTINCT odate) > 1) AS date_to_month,
    NOT EXISTS (SELECT 1 FROM t t1, t t2
                WHERE t1.omonth < t2.omonth AND t1.odate > t2.odate)
    AND NOT EXISTS (SELECT 1 FROM t GROUP BY odate
                    HAVING COUNT(DISTINCT omonth) > 1) AS month_to_date
)
SELECT od FROM (
  SELECT 'k -> odate' AS od
  UNION ALL
  SELECT 'k -> omonth'
  UNION ALL
  SELECT 'odate -> omonth' FROM verdicts WHERE date_to_month
  UNION ALL
  SELECT 'omonth -> odate' FROM verdicts WHERE month_to_date
) ORDER BY od
"""


def q_discovery_cinds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cinderella CIND discovery (cind_discovery.mine_cinds, reference
    cind/condition_miners/cinderella.cpp) over two projected tables:
    o(o_custkey, o_orderpriority) and c(c_custkey, c_mktsegment). Exactly two
    AINDs qualify at error<=0.5 (o.custkey -> c.custkey is the exact FK;
    c.custkey -> o.custkey errs by the customers without orders; every other
    pair has disjoint domains), and each has ONE conditional attribute, so
    the Apriori walk is level-1 only and every condition's validity /
    completeness is a closed-form grouped aggregate the oracle replays."""
    from pyspark_validator.cind_discovery import mine_cinds

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderpriority"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    res = mine_cinds(
        {"o": o, "c": c},
        max_error=0.5,
        min_validity=0.2,
        min_completeness=0.1,
        condition_type="row",
    )
    rows = [
        (
            f"{r.lhs[0]}.{r.lhs[1]}",
            f"{r.rhs[0]}.{r.rhs[1]}",
            round(r.error, 9),
            cond.values[0],
            round(cond.validity, 9),
            round(cond.completeness, 9),
        )
        for r in res
        for cond in r.conditions
    ]
    return (
        spark.createDataFrame(
            rows or [("__none__", "", 0.0, "", 0.0, 0.0)],
            ["lhs", "rhs", "error", "cond", "validity", "completeness"],
        )
        .filter(F.col("lhs") != "__none__")
        .orderBy("lhs", "cond")
    )


SQL_DISCOVERY_CINDS_ORDERS = """
WITH od AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders),
cd AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
err_oc AS (SELECT 1.0 - (SELECT COUNT(*) FROM od WHERE k IN (SELECT k FROM cd)) * 1.0
                        / (SELECT COUNT(*) FROM od) AS e),
err_co AS (SELECT 1.0 - (SELECT COUNT(*) FROM cd WHERE k IN (SELECT k FROM od)) * 1.0
                        / (SELECT COUNT(*) FROM cd) AS e),
o_inc AS (SELECT o_orderpriority,
                 CAST(o_custkey AS VARCHAR) IN (SELECT k FROM cd) AS inc
          FROM orders),
c_inc AS (SELECT c_mktsegment,
                 CAST(c_custkey AS VARCHAR) IN (SELECT k FROM od) AS inc
          FROM customer),
cond1 AS (
  SELECT 'o.o_custkey' AS lhs, 'c.c_custkey' AS rhs,
         ROUND((SELECT e FROM err_oc), 9) AS error,
         o_orderpriority AS cond,
         ROUND(SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9) AS validity,
         ROUND(SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0
               / (SELECT COUNT(*) FROM o_inc WHERE inc), 9) AS completeness
  FROM o_inc GROUP BY o_orderpriority
  HAVING (SELECT e FROM err_oc) <= 0.5
     AND SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0 / COUNT(*) >= 0.2
     AND SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0
         / (SELECT COUNT(*) FROM o_inc WHERE inc) >= 0.1
     AND SUM(CASE WHEN inc THEN 1 ELSE 0 END) > 0
),
cond2 AS (
  SELECT 'c.c_custkey' AS lhs, 'o.o_custkey' AS rhs,
         ROUND((SELECT e FROM err_co), 9) AS error,
         c_mktsegment AS cond,
         ROUND(SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9) AS validity,
         ROUND(SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0
               / (SELECT COUNT(*) FROM c_inc WHERE inc), 9) AS completeness
  FROM c_inc GROUP BY c_mktsegment
  HAVING (SELECT e FROM err_co) <= 0.5
     AND SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0 / COUNT(*) >= 0.2
     AND SUM(CASE WHEN inc THEN 1 ELSE 0 END) * 1.0
         / (SELECT COUNT(*) FROM c_inc WHERE inc) >= 0.1
     AND SUM(CASE WHEN inc THEN 1 ELSE 0 END) > 0
)
SELECT * FROM (SELECT * FROM cond1 UNION ALL SELECT * FROM cond2)
ORDER BY lhs, cond
"""


#: the three aligned columns of the n-ary IND contract query
_NARY_COLS = ["o_custkey", "o_orderdate", "o_orderpriority"]


def q_discovery_nary_inds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mind full-lattice n-ary IND discovery (discovery.mine_nary_inds,
    reference mind.cpp:69-144 GenNext) over two tables: o = orders projected
    to (custkey, orderdate, orderpriority) and f = the same projection of
    URGENT orders only. f's columns are row-subsets of o's (every f->o
    direction holds up to arity 3), the o->f directions are genuinely
    data-dependent, and the three domains are pairwise disjoint so only
    position-aligned candidates ever form. The oracle replays the whole
    lattice closed-form: unary verdicts as double-NOT-EXISTS containments,
    each higher candidate gated on its drop-one projections plus its own
    NOT EXISTS tuple containment."""
    from pyspark_validator.discovery import mine_nary_inds

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(*_NARY_COLS)
    f = o.filter(F.col("o_orderpriority") == "1-URGENT")
    res = mine_nary_inds({"o": o, "f": f}, max_arity=3)
    rows = [
        (
            ",".join(f"{lt}.{c}" for c in lcols)
            + " -> "
            + ",".join(f"{rt}.{c}" for c in rcols),
        )
        for (lt, lcols), (rt, rcols) in res
    ]
    return (
        spark.createDataFrame(rows or [("__none__",)], ["ind"])
        .filter(F.col("ind") != "__none__")
        .orderBy("ind")
    )


def _nary_ind_oracle_sql() -> str:
    """Generate the DuckDB oracle for q_discovery_nary_inds_orders: every
    GenNext candidate between the aligned column tuples of o and f, spelled
    as NOT EXISTS containments gated on the drop-one projections."""
    cols = _NARY_COLS
    from itertools import combinations as _comb

    def contain(dep: str, ref: str, idxs: tuple[int, ...]) -> str:
        sel = ", ".join(cols[i] for i in idxs)
        on = " AND ".join(f"d.{cols[i]} = r.{cols[i]}" for i in idxs)
        return (
            f"NOT EXISTS (SELECT 1 FROM (SELECT DISTINCT {sel} FROM {dep}) d "
            f"WHERE NOT EXISTS (SELECT 1 FROM {ref} r WHERE {on}))"
        )

    def flag(dep, ref, idxs):
        return f"h_{dep}_{ref}_" + "".join(str(i) for i in idxs)

    flags, emits = [], []
    for dep, ref in (("f", "o"), ("o", "f")):
        for arity in (1, 2, 3):
            for idxs in _comb(range(len(cols)), arity):
                gates = [contain(dep, ref, idxs)]
                if arity >= 2:
                    # GenNext: every drop-one projection must hold
                    gates += [
                        f"(SELECT v FROM {flag(dep, ref, sub)})"
                        for sub in _comb(idxs, arity - 1)
                    ]
                flags.append(
                    f"{flag(dep, ref, idxs)} AS (SELECT "
                    + " AND ".join(gates)
                    + " AS v)"
                )
                name = (
                    ",".join(f"{dep}.{cols[i]}" for i in idxs)
                    + " -> "
                    + ",".join(f"{ref}.{cols[i]}" for i in idxs)
                )
                emits.append(
                    f"SELECT '{name}' AS ind FROM {flag(dep, ref, idxs)} WHERE v"
                )
    return (
        "WITH o AS (SELECT "
        + ", ".join(cols)
        + " FROM orders),\nf AS (SELECT "
        + ", ".join(cols)
        + " FROM orders WHERE o_orderpriority = '1-URGENT'),\n"
        + ",\n".join(flags)
        + "\nSELECT ind FROM (\n"
        + "\nUNION ALL\n".join(emits)
        + "\n) ORDER BY ind"
    )


SQL_DISCOVERY_NARY_INDS_ORDERS = _nary_ind_oracle_sql()


def q_curation_dsir_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (pipelines/curation.py::dsir_resample, Xie
    et al. 2023): target = the zh documents, raw = everything else; hashed
    uni+bigram features into 256 md5-suffix buckets, additive-0.5-smoothed
    per-bucket log ratio (broadcast, <=256 rows), per-doc log importance
    weight in one groupBy, Gumbel top-40 with deterministic md5-derived
    noise. The oracle replays the whole chain -- tokenize, hash-bucket,
    smooth, score, Gumbel-key -- in SQL."""
    from pyspark_validator.pipelines.curation import dsir_resample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = d.filter(F.col("lang") != "zh").select("doc_id", "text")
    tgt = d.filter(F.col("lang") == "zh").select("doc_id", "text")
    sel = dsir_resample(raw, tgt, k=40, hex_chars=2, alpha=0.5, seed="dsir")
    return sel.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        _r(F.col("logw"), 9).alias("logw"),
        _r(F.col("select_key"), 9).alias("select_key"),
    )


SQL_CURATION_DSIR_DOCS = r"""
WITH raw AS (SELECT doc_id, text FROM documents WHERE lang <> 'zh'),
tgt AS (SELECT doc_id, text FROM documents WHERE lang = 'zh'),
rw AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM raw),
tw AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM tgt),
rg AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(w) AS g FROM rw) WHERE g <> ''
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, array_length(w)),
                               i -> array_to_string(w[i:i+1], ' '))) AS g
  FROM rw
),
tg AS (
  SELECT g FROM (SELECT unnest(w) AS g FROM tw) WHERE g <> ''
  UNION ALL
  SELECT unnest(list_transform(range(1, array_length(w)),
                               i -> array_to_string(w[i:i+1], ' '))) AS g
  FROM tw
),
rb AS (SELECT doc_id, substr(md5(g), 31, 2) AS b FROM rg),
tb AS (SELECT substr(md5(g), 31, 2) AS b FROM tg),
rcnt AS (SELECT b, count(*) AS c FROM rb GROUP BY b),
tcnt AS (SELECT b, count(*) AS c FROM tb GROUP BY b),
tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM tcnt) + 0.5 * 256 AS tden,
               (SELECT CAST(sum(c) AS DOUBLE) FROM rcnt) + 0.5 * 256 AS rden),
ratio AS (
  SELECT coalesce(t.b, r.b) AS b,
         ln((coalesce(t.c, 0) + 0.5) / tot.tden)
           - ln((coalesce(r.c, 0) + 0.5) / tot.rden) AS lr
  FROM tcnt t FULL JOIN rcnt r ON t.b = r.b, tot
),
scored AS (
  SELECT rb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         sum(coalesce(ratio.lr,
                      (SELECT ln(0.5 / tden) - ln(0.5 / rden) FROM tot))) AS logw
  FROM rb LEFT JOIN ratio ON ratio.b = rb.b
  GROUP BY rb.doc_id
),
wts AS (
  SELECT r.doc_id,
         CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
         coalesce(s.logw, 0.0) AS logw
  FROM raw r LEFT JOIN scored s ON s.doc_id = r.doc_id
),
keyed AS (
  SELECT doc_id, n_grams, logw,
         logw + (-ln(-ln(
           (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dsir'), 1, 12)
                 AS BIGINT) + 0.5) / 281474976710656.0))) AS select_key
  FROM wts
)
SELECT doc_id, n_grams, round(logw, 9) AS logw, round(select_key, 9) AS select_key
FROM keyed
ORDER BY select_key DESC, doc_id ASC
LIMIT 40
"""


def q_dedup_lines_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-line removal (pipelines/dedup.py::dedup_lines,
    the MassiveText/RefinedWeb line-dedup tier): every doc gets two footer
    lines planted -- 'subscribe to our newsletter.' on even ids (250 docs,
    banned at min_docs=3), 'cookie banner boilerplate' on ids % 5 == 0 (100
    docs, banned), and per-doc unique footers otherwise (kept). The oracle
    replays the census (count DISTINCT docs per non-blank line) and the
    ordered rebuild in SQL; clean text is md5'd to keep the diff small."""
    from pyspark_validator.pipelines.dedup import dedup_lines

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    f1 = F.when(
        F.col("doc_id") % 2 == 0, F.lit("subscribe to our newsletter.")
    ).otherwise(F.concat(F.lit("unique footer "), F.col("doc_id").cast("string")))
    f2 = F.when(
        F.col("doc_id") % 5 == 0, F.lit("cookie banner boilerplate")
    ).otherwise(F.concat(F.lit("second footer "), F.col("doc_id").cast("string")))
    planted = d.select(
        "doc_id", F.concat_ws("\n", F.col("text"), f1, f2).alias("text")
    )
    out = dedup_lines(planted, min_docs=3)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed_lines").cast("long").alias("n_removed_lines"),
        F.md5("clean_text").alias("clean_md5"),
    )


SQL_DEDUP_LINES_DOCS = r"""
WITH planted AS (
  SELECT doc_id,
         text || chr(10) ||
         CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter.'
              ELSE 'unique footer ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
         CASE WHEN doc_id % 5 = 0 THEN 'cookie banner boilerplate'
              ELSE 'second footer ' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents
),
split_docs AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM planted),
pos_lines AS (
  SELECT doc_id, l, unnest(range(1, array_length(l) + 1)) AS pos FROM split_docs
),
line_rows AS (SELECT doc_id, pos, l[CAST(pos AS INT)] AS line FROM pos_lines),
banned AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS n_docs
    FROM line_rows WHERE trim(line) <> '' GROUP BY line
  ) WHERE n_docs >= 3
),
judged AS (
  SELECT lr.doc_id, lr.pos, lr.line, b.line IS NOT NULL AS is_banned
  FROM line_rows lr LEFT JOIN banned b ON b.line = lr.line
),
rebuilt AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN is_banned THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_lines,
         coalesce(string_agg(CASE WHEN NOT is_banned THEN line END,
                             chr(10) ORDER BY pos), '') AS clean_text
  FROM judged GROUP BY doc_id
)
SELECT doc_id, n_lines, n_removed_lines, md5(clean_text) AS clean_md5
FROM rebuilt
"""


def q_dedup_delta_bloom_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated delta-vs-corpus EXACT dedup (pipelines/bloom.py::
    delta_new_rows): the crawl-increment fast path -- the standing corpus is a
    distinct-fingerprint index plus an OR-mergeable m-bit Bloom filter; delta
    rows the filter rejects are definitely new and bypass the verify join
    (zero shuffle), only maybe-seen rows are anti-joined against the index.
    Delta = normalized-equal copies of every 30th doc (uppercased, padded --
    exact dups, dropped) + every (30k+7)th doc with a fresh suffix (new,
    kept). The result is exact regardless of filter sizing, so the oracle is
    the closed-form anti-join on normalized text."""
    from pyspark_validator.pipelines.bloom import (
        bloom_array,
        bloom_words,
        content_hash_index,
        delta_new_rows,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = d.filter(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"), F.lit(" "))).alias("text"),
    )
    fresh = d.filter(F.col("doc_id") % 30 == 7).select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" freshly crawled suffix")).alias("text"),
    )
    delta = copies.unionByName(fresh)
    idx = content_hash_index(d).persist()
    m, k = 1 << 20, 7
    arr = bloom_array(bloom_words(idx, num_bits=m, num_hashes=k), m)
    out = delta_new_rows(delta, idx, bloom=arr, num_bits=m, num_hashes=k)
    return out.select("doc_id")


SQL_DEDUP_DELTA_BLOOM_DOCS = r"""
WITH delta AS (
  SELECT doc_id + 5000000 AS doc_id, upper('  ' || text || ' ') AS text
  FROM documents WHERE doc_id % 30 = 0
  UNION ALL
  SELECT doc_id + 6000000 AS doc_id, text || ' freshly crawled suffix' AS text
  FROM documents WHERE doc_id % 30 = 7
),
cn AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
)
SELECT d.doc_id FROM delta d
WHERE trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')) NOT IN (SELECT t FROM cn)
"""


def q_retrieval_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword scoring over the documents table (pipelines/retrieval.py::
    bm25_scores): per-doc lexical relevance for a 3-term query. N/avgdl/df
    come from one scalar agg; scoring is a zero-shuffle per-row expression
    over the LM tokenization. The oracle spells the full formula (Lucene +1
    idf variant) end-to-end in DuckDB over the same token stream."""
    from pyspark_validator.pipelines.retrieval import bm25_scores

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = bm25_scores(d, ["spark", "merge", "vector"])
    return s.select(F.col("id").alias("doc_id"), _r(F.col("score")).alias("score"))


SQL_RETRIEVAL_BM25_DOCS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(str_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents
),
stats AS (SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM toks),
dfs AS (
  SELECT sum(CASE WHEN list_contains(tk, 'spark')  THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN list_contains(tk, 'merge')  THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN list_contains(tk, 'vector') THEN 1 ELSE 0 END) AS df2
  FROM toks
),
scored AS (
  SELECT doc_id,
    ln(1 + (n - df0 + 0.5)/(df0 + 0.5))
      * tf0 * 2.2 / (tf0 + 1.2*(0.25 + 0.75*len(tk)/avgdl))
    + ln(1 + (n - df1 + 0.5)/(df1 + 0.5))
      * tf1 * 2.2 / (tf1 + 1.2*(0.25 + 0.75*len(tk)/avgdl))
    + ln(1 + (n - df2 + 0.5)/(df2 + 0.5))
      * tf2 * 2.2 / (tf2 + 1.2*(0.25 + 0.75*len(tk)/avgdl)) AS score
  FROM toks, stats, dfs,
  LATERAL (SELECT
     CAST(len(list_filter(tk, t -> t = 'spark'))  AS DOUBLE) AS tf0,
     CAST(len(list_filter(tk, t -> t = 'merge'))  AS DOUBLE) AS tf1,
     CAST(len(list_filter(tk, t -> t = 'vector')) AS DOUBLE) AS tf2)
)
SELECT doc_id, round(score, 6) AS score FROM scored WHERE score > 0
"""


def q_retrieval_rrf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (pipelines/retrieval.py::rrf_fuse) of two
    term-frequency ranked lists -- the hybrid-retrieval combiner. Ranks are
    integer-deterministic (tf desc, id asc), so both engines assign identical
    rank lists; n_lists <= 2 keeps the rrf sum a single fp addition (order-
    independent), so 9-dp rounding is exact."""
    from pyspark_validator.pipelines.retrieval import rrf_fuse, with_rank

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "),
        lambda t: t != "",
    )

    def ranked(term: str) -> DataFrame:
        tf = F.size(F.filter(toks, lambda x: x == F.lit(term)))
        top = (
            d.select(F.col("doc_id").alias("id"), tf.alias("score"))
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(20)
        )
        return with_rank(top, "score")

    fused = rrf_fuse([ranked("spark"), ranked("vector")], k=60)
    return fused.select(
        F.col("id").alias("doc_id"), _r(F.col("rrf"), 9).alias("rrf"), "n_lists"
    )


SQL_RETRIEVAL_RRF_DOCS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(str_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents
),
ra AS (
  SELECT doc_id, row_number() OVER (ORDER BY len(list_filter(tk, t -> t = 'spark')) DESC, doc_id) AS rank
  FROM toks QUALIFY rank <= 20
),
rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY len(list_filter(tk, t -> t = 'vector')) DESC, doc_id) AS rank
  FROM toks QUALIFY rank <= 20
),
u AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM ra
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM rb
)
SELECT doc_id, round(sum(c), 9) AS rrf, CAST(count(*) AS BIGINT) AS n_lists
FROM u GROUP BY doc_id
"""


def q_span_transitions_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-kind transition census over the interleaved view (pipelines/
    interleaved.py::span_kind_transitions): the corpus's structural Markov
    fingerprint (BOS/text/image/EOS adjacency counts), at most (kinds+1)^2
    output rows however large the corpus. The oracle re-derives the kind
    sequences from the span_seq string encoding and counts edges in SQL."""
    from pyspark_validator.pipelines.interleaved import span_kind_transitions

    ds = _docs_spans(spark, sf_dir)
    return span_kind_transitions(ds).select(
        "src", "dst", F.col("n_transitions").cast("long").alias("n_transitions")
    )


SQL_SPAN_TRANSITIONS_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
kinds AS (
  SELECT list_concat(list_concat(['BOS'],
           list_transform(str_split(span_seq, chr(30)), s -> str_split(s, chr(31))[1])),
         ['EOS']) AS ks
  FROM docs_spans
),
edges AS (
  SELECT ks[i] AS src, ks[i + 1] AS dst
  FROM kinds, LATERAL (SELECT unnest(range(1, len(ks))) AS i)
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
FROM edges GROUP BY src, dst
"""


def q_media_census_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-object reuse census over the interleaved view (pipelines/
    interleaved.py::media_ref_census): per media_ref, distinct docs vs total
    span slots referencing it -- the image-side exact-dedup census (synthetic
    refs are hashed mod 100000, so reuse across docs AND copy-duplicated docs
    with the same doc_id both occur, exercising the two counts differently).
    Only media spans are exploded; text spans never leave the row."""
    from pyspark_validator.pipelines.interleaved import media_ref_census

    ds = _docs_spans(spark, sf_dir)
    c = media_ref_census(ds)
    return c.select(
        "media_ref",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_slots").cast("long").alias("n_slots"),
    )


SQL_MEDIA_CENSUS_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
slots AS (
  SELECT doc_id, str_split(s, chr(31))[3] AS media_ref
  FROM docs_spans, LATERAL (SELECT unnest(str_split(span_seq, chr(30))) AS s)
  WHERE str_split(s, chr(31))[1] = 'image'
)
SELECT media_ref, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_slots
FROM slots GROUP BY media_ref
"""


def q_spans_flatten_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved -> text bridge (pipelines/interleaved.py::spans_to_text):
    flatten each doc's text spans in offset order to the plain string every
    text-tier operator consumes. Zero-shuffle per-row exprs; md5 keeps the
    diff small. Copies share a doc_id, so duplicate rows are expected and
    compared as a multiset."""
    from pyspark_validator.pipelines.interleaved import spans_to_text

    ds = _docs_spans(spark, sf_dir)
    return spans_to_text(ds).select("doc_id", F.md5("text").alias("text_md5"))


SQL_SPANS_FLATTEN_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
flat AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             list_filter(str_split(span_seq, chr(30)),
                         s -> str_split(s, chr(31))[1] = 'text'),
             s -> str_split(s, chr(31))[2]),
           ' ') AS text
  FROM docs_spans
)
SELECT doc_id, md5(coalesce(text, '')) AS text_md5 FROM flat
"""


def q_spans_flatten_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel-aware flatten (pipelines/interleaved.py::spans_to_text with
    media_sentinel): media spans contribute an '<image>' marker at their
    interleaved position -- the LLaVA/OBELICS tokenizer bridge. Same md5
    parity as the plain flatten."""
    from pyspark_validator.pipelines.interleaved import spans_to_text

    ds = _docs_spans(spark, sf_dir)
    return spans_to_text(ds, media_sentinel="<image>").select(
        "doc_id", F.md5("text").alias("text_md5")
    )


SQL_SPANS_FLATTEN_SENTINELS = f"""
WITH {DOCS_SPANS_SQL.strip()},
flat AS (
  SELECT doc_id,
         array_to_string(
           list_transform(str_split(span_seq, chr(30)),
             s -> CASE WHEN str_split(s, chr(31))[3] <> chr(0)||'N'
                       THEN '<image>' ELSE str_split(s, chr(31))[2] END),
           ' ') AS text
  FROM docs_spans
)
SELECT doc_id, md5(coalesce(text, '')) AS text_md5 FROM flat
"""


def q_span_structure_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural drift between two interleaved snapshots (pipelines/
    interleaved.py::span_structure_drift): PSI + chi2 over the span-kind
    transition distribution, censuses fed as weighted counts (no observation
    re-expansion). Sides = even/odd numeric doc ids; the oracle replays the
    census split and both formulas in SQL."""
    from pyspark_validator.pipelines.interleaved import span_structure_drift

    ds = _docs_spans(spark, sf_dir)
    num = F.substring("doc_id", 5, 12).cast("long")
    out = span_structure_drift(
        ds.filter(num % 2 == 0), ds.filter(num % 2 == 1)
    )
    return out.select(
        _r(F.col("psi"), 9).alias("psi"),
        _r(F.col("chi2"), 6).alias("chi2"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "drift_detected",
    )


SQL_SPAN_STRUCTURE_DRIFT_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
kinds AS (
  SELECT CAST(substr(doc_id, 5) AS BIGINT) % 2 AS side,
         list_concat(list_concat(['BOS'],
           list_transform(str_split(span_seq, chr(30)), s -> str_split(s, chr(31))[1])),
         ['EOS']) AS ks
  FROM docs_spans
),
edges AS (
  SELECT side, ks[i] || '->' || ks[i + 1] AS bucket
  FROM kinds, LATERAL (SELECT unnest(range(1, len(ks))) AS i)
),
counts AS (
  SELECT bucket,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM edges GROUP BY bucket
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k FROM counts),
terms AS (
  SELECT
    ((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
      * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k))) AS psi_t,
    pow(cnt_b - (cnt_b + cnt_c) * n_b / (n_b + n_c), 2) / ((cnt_b + cnt_c) * n_b / (n_b + n_c))
      + pow(cnt_c - (cnt_b + cnt_c) * n_c / (n_b + n_c), 2) / ((cnt_b + cnt_c) * n_c / (n_b + n_c)) AS chi_t,
    n_b, n_c, k
  FROM counts, tot
)
SELECT round(sum(psi_t), 9) AS psi, round(sum(chi_t), 6) AS chi2,
       CAST(any_value(n_b) AS BIGINT) AS n_b, CAST(any_value(n_c) AS BIGINT) AS n_c,
       CAST(any_value(k) AS BIGINT) AS n_buckets,
       sum(psi_t) > 0.2 AS drift_detected
FROM terms
"""


def q_curation_temperature_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced mixture sampling (pipelines/curation.py::
    temperature_mixture, the mC4 alpha-temperature rule): per-source keep
    rates ∝ n^alpha, realized as md5-prefix Bernoulli thresholds. Rates are
    quantized to 6 dp inside the operator precisely so this oracle can
    re-derive the identical cut points: the SQL recomputes counts, rates and
    the numeric threshold, then compares the folded 12-hex md5 prefix."""
    from pyspark_validator.pipelines.curation import temperature_mixture

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = temperature_mixture(d, alpha=0.3, target_total=200)
    return out.select("doc_id", "source")


_HEX12_FOLD = " + ".join(
    f"(strpos('0123456789abcdef', substr(pre,{i + 1},1))-1)*{16 ** (11 - i)}"
    for i in range(12)
)

SQL_CURATION_TEMPERATURE_DOCS = f"""
WITH counts AS (
  SELECT source AS s, count(*) AS n FROM documents GROUP BY source
),
z AS (SELECT sum(pow(n, 0.3)) AS z FROM counts),
rates AS (
  SELECT s, least(1.0, round(least(1.0, 200 * (pow(n, 0.3) / z) / n), 6)) AS rate
  FROM counts, z
),
keyed AS (
  SELECT doc_id, source,
         substr(md5(CAST(doc_id AS VARCHAR) || '|temp'), 1, 12) AS pre
  FROM documents
)
SELECT k.doc_id, k.source
FROM keyed k JOIN rates r ON r.s = k.source
WHERE ({_HEX12_FOLD}) < floor(r.rate * 281474976710656)
"""


def q_curation_token_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget subsetting (pipelines/curation.py::
    token_budget_sample, exact mode): docs ranked by md5(id|salt), kept while
    the source's running token total including the doc stays <= budget
    (strict prefix -- an overflowing doc still consumes budget). One window
    shuffle, parallelism = number of sources. The oracle replays the ranked
    running sum in SQL."""
    from pyspark_validator.pipelines.curation import token_budget_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = token_budget_sample(d, budget_tokens=500)
    return out.select("doc_id", "source", "n_tokens")


SQL_CURATION_TOKEN_BUDGET_DOCS = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(str_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                              t -> t <> '')) AS BIGINT) AS n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR) || '|budget'), 1, 12) AS pre
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY pre, doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM toks
)
SELECT doc_id, source, n_tokens FROM cum WHERE c <= 500
"""


def q_drift_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift (checks/drift.py::embedding_centroid_drift):
    cosine between the even- and odd-id halves' mean vectors plus mean-norm
    shift -- the centroid moves on a model swap or population shift long
    before pairwise checks notice. Partial sums shuffle groups x dim rows,
    never the corpus. The oracle recomputes per-index means in SQL."""
    from pyspark_validator.checks.drift import embedding_centroid_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        min_cosine=0.99,
    )
    return out.select(
        "n_b",
        "n_c",
        _r(F.col("centroid_cosine"), 9).alias("centroid_cosine"),
        _r(F.col("mean_norm_b"), 6).alias("mean_norm_b"),
        _r(F.col("mean_norm_c"), 6).alias("mean_norm_c"),
        "drift_detected",
    )


SQL_DRIFT_EMBEDDING_CENTROID = """
WITH b AS (SELECT embedding AS e FROM embeddings WHERE vec_id % 2 = 0),
c AS (SELECT embedding AS e FROM embeddings WHERE vec_id % 2 = 1),
bi AS (
  SELECT i, avg(e[i]) AS m
  FROM b, LATERAL (SELECT unnest(range(1, 65)) AS i) u GROUP BY i
),
ci AS (
  SELECT i, avg(e[i]) AS m
  FROM c, LATERAL (SELECT unnest(range(1, 65)) AS i) u GROUP BY i
),
cosine AS (
  SELECT sum(bi.m * ci.m) / (sqrt(sum(bi.m * bi.m)) * sqrt(sum(ci.m * ci.m))) AS cos
  FROM bi JOIN ci USING (i)
),
norms AS (
  SELECT
    (SELECT avg(sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * x)))) FROM b) AS nb,
    (SELECT avg(sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * x)))) FROM c) AS nc,
    (SELECT count(*) FROM b) AS n_b,
    (SELECT count(*) FROM c) AS n_c
)
SELECT CAST(n_b AS BIGINT) AS n_b, CAST(n_c AS BIGINT) AS n_c,
       round(cos, 9) AS centroid_cosine,
       round(nb, 6) AS mean_norm_b, round(nc, 6) AS mean_norm_c,
       cos < 0.99 AS drift_detected
FROM cosine, norms
"""


def q_dedup_spans_boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-native boilerplate-span dedup (pipelines/interleaved.py::
    dedup_boilerplate_spans): a footer TEXT SPAN planted on every even doc is
    banned by the distinct-doc census (>= 3 docs) and stripped from every
    span array; media spans and unique text always survive. Multi-copy doc
    ids (% 100 == 0) are filtered so doc_id is a unique key for the per-doc
    rebuild. The oracle replays census + rebuild on the span_seq encoding."""
    from pyspark_validator.canonical import span_seq_expr
    from pyspark_validator.pipelines.interleaved import dedup_boilerplate_spans

    ds = _docs_spans(spark, sf_dir)
    did = F.substring("doc_id", 5, 12).cast("long")
    ds = ds.filter(did % 100 != 0)
    footer = F.struct(
        F.lit("text").alias("kind"),
        F.lit("subscribe to our newsletter.").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(100000).alias("offset"),
    )
    planted = ds.withColumn(
        "spans",
        F.when(did % 2 == 0, F.concat("spans", F.array(footer))).otherwise(
            F.col("spans")
        ),
    )
    out = dedup_boilerplate_spans(planted, min_docs=3)
    return out.select(
        "doc_id",
        "n_spans",
        "n_removed_spans",
        F.md5(span_seq_expr("spans")).alias("spans_md5"),
    )


SQL_DEDUP_SPANS_BOILERPLATE_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
base AS (
  SELECT doc_id,
         CASE WHEN CAST(substr(doc_id, 5) AS BIGINT) % 2 = 0
              THEN span_seq || chr(30) || 'text' || chr(31)
                   || 'subscribe to our newsletter.' || chr(31) || chr(0) || 'N'
              ELSE span_seq END AS span_seq
  FROM docs_spans
  WHERE CAST(substr(doc_id, 5) AS BIGINT) % 100 <> 0
),
el AS (
  SELECT doc_id, u.s AS el
  FROM base, LATERAL (SELECT unnest(str_split(span_seq, chr(30))) AS s) u
),
banned AS (
  SELECT coalesce(list(t), []) AS bl FROM (
    SELECT str_split(el, chr(31))[2] AS t, count(DISTINCT doc_id) AS n_docs
    FROM el WHERE str_split(el, chr(31))[1] = 'text' GROUP BY t
  ) WHERE n_docs >= 3
),
rebuilt AS (
  SELECT b.doc_id,
         CAST(len(str_split(b.span_seq, chr(30))) AS BIGINT) AS n_spans,
         list_filter(str_split(b.span_seq, chr(30)),
                     s -> NOT (str_split(s, chr(31))[1] = 'text'
                               AND list_contains(bn.bl, str_split(s, chr(31))[2]))) AS kept
  FROM base b, banned bn
)
SELECT doc_id, n_spans,
       n_spans - CAST(len(kept) AS BIGINT) AS n_removed_spans,
       md5(coalesce(array_to_string(kept, chr(30)), '')) AS spans_md5
FROM rebuilt
"""


def q_dedup_layout_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout (structural) dedup on the interleaved shape
    (pipelines/interleaved.py::layout_clusters): clusters of documents whose
    offset-ordered (kind, text-length-bucket) skeletons coincide -- the
    template tier content dedup cannot see. ONE groupBy on the 8-byte
    fingerprint; the oracle rebuilds the identical layout string from the
    span_seq encoding and groups on the string itself."""
    from pyspark_validator.pipelines.interleaved import layout_clusters

    ds = _docs_spans(spark, sf_dir)
    return layout_clusters(ds, len_bucket=16, min_cluster=2).select(
        "representative",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.col("n_spans").cast("bigint").alias("n_spans"),
    )


SQL_DEDUP_LAYOUT_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
lay AS (
  SELECT doc_id,
    array_to_string(list_transform(str_split(span_seq, chr(30)),
      sp -> str_split(sp, chr(31))[1] || '#' ||
            CASE WHEN str_split(sp, chr(31))[2] = chr(0)||'N' THEN '-'
                 ELSE CAST(CAST(floor(length(str_split(sp, chr(31))[2]) / 16.0) AS BIGINT) AS VARCHAR) END),
      '|') AS layout,
    len(str_split(span_seq, chr(30))) AS n_spans
  FROM docs_spans)
SELECT min(doc_id) AS representative, CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(max(n_spans) AS BIGINT) AS n_spans
FROM lay GROUP BY layout HAVING count(*) >= 2
"""


def q_layout_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source template diversity (pipelines/interleaved.py::
    layout_census + layout_diversity): the template-farm detector -- a source
    whose docs collapse onto few structural fingerprints scores a high
    template_ratio. The census is the bounded sum-mergeable standing index;
    the rollup costs one tiny groupBy. Oracle rebuilds the layout string and
    replays census + rollup in SQL."""
    from pyspark_validator.pipelines.interleaved import (
        layout_census,
        layout_diversity,
    )

    ds = _docs_spans(spark, sf_dir)
    did = F.substring("doc_id", 5, 12).cast("long")
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("did"), "source"
    )
    tagged = ds.withColumn("did", did).join(src, "did")
    div = layout_diversity(layout_census(tagged, "source"))
    return div.select(
        F.col("group").alias("source"),
        "n_docs",
        "n_layouts",
        _r(F.col("template_ratio"), 9).alias("template_ratio"),
        _r(F.col("top_layout_share"), 9).alias("top_layout_share"),
    )


SQL_LAYOUT_DIVERSITY_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
lay AS (
  SELECT ds.doc_id, d.source,
    array_to_string(list_transform(str_split(ds.span_seq, chr(30)),
      sp -> str_split(sp, chr(31))[1] || '#' ||
            CASE WHEN str_split(sp, chr(31))[2] = chr(0)||'N' THEN '-'
                 ELSE CAST(CAST(floor(length(str_split(sp, chr(31))[2]) / 16.0) AS BIGINT) AS VARCHAR) END),
      '|') AS layout
  FROM docs_spans ds
  JOIN documents d ON CAST(substr(ds.doc_id, 5) AS BIGINT) = d.doc_id),
census AS (
  SELECT source, layout, count(*) AS n_docs FROM lay GROUP BY 1, 2)
SELECT source,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_layouts,
       round(1.0 - count(*) * 1.0 / sum(n_docs), 9) AS template_ratio,
       round(max(n_docs) * 1.0 / sum(n_docs), 9) AS top_layout_share
FROM census GROUP BY source
"""


def q_drift_layout_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-distribution drift (pipelines/interleaved.py::layout_drift):
    PSI + chi2 over per-layout doc counts between the even/odd doc-id
    snapshots -- the finer-grained companion of span_structure_drift (a
    template family shifting share trips it even with an unchanged aggregate
    transition mix). The oracle rebuilds the layout strings and replays both
    formulas in SQL (bucket labels don't enter the sums, so string-vs-hash
    bucketing agrees)."""
    from pyspark_validator.pipelines.interleaved import layout_drift

    ds = _docs_spans(spark, sf_dir)
    num = F.substring("doc_id", 5, 12).cast("long")
    out = layout_drift(ds.filter(num % 2 == 0), ds.filter(num % 2 == 1))
    return out.select(
        _r(F.col("psi"), 9).alias("psi"),
        _r(F.col("chi2"), 6).alias("chi2"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "drift_detected",
    )


SQL_DRIFT_LAYOUT_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
lay AS (
  SELECT CAST(substr(doc_id, 5) AS BIGINT) % 2 AS side,
    array_to_string(list_transform(str_split(span_seq, chr(30)),
      sp -> str_split(sp, chr(31))[1] || '#' ||
            CASE WHEN str_split(sp, chr(31))[2] = chr(0)||'N' THEN '-'
                 ELSE CAST(CAST(floor(length(str_split(sp, chr(31))[2]) / 16.0) AS BIGINT) AS VARCHAR) END),
      '|') AS bucket
  FROM docs_spans
),
counts AS (
  SELECT bucket,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM lay GROUP BY bucket
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k FROM counts),
terms AS (
  SELECT
    ((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
      * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k))) AS psi_t,
    pow(cnt_b - (cnt_b + cnt_c) * n_b / (n_b + n_c), 2) / ((cnt_b + cnt_c) * n_b / (n_b + n_c))
      + pow(cnt_c - (cnt_b + cnt_c) * n_c / (n_b + n_c), 2) / ((cnt_b + cnt_c) * n_c / (n_b + n_c)) AS chi_t,
    n_b, n_c, k
  FROM counts, tot
)
SELECT round(sum(psi_t), 9) AS psi, round(sum(chi_t), 6) AS chi2,
       CAST(any_value(n_b) AS BIGINT) AS n_b, CAST(any_value(n_c) AS BIGINT) AS n_c,
       CAST(any_value(k) AS BIGINT) AS n_buckets,
       sum(psi_t) > 0.2 AS drift_detected
FROM terms
"""


def q_media_context_census_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group caption-adjacency census + rollup (pipelines/interleaved.py::
    media_context_census/media_context_rollup): docs sharded by doc_id % 5 as
    the stand-in source key; counts sum-merge, ratios null-safe."""
    from pyspark_validator.pipelines.interleaved import (
        media_context_census,
        media_context_rollup,
    )

    ds = _docs_spans(spark, sf_dir)
    grouped = ds.withColumn(
        "shard", (F.substring("doc_id", 5, 12).cast("long") % 5).cast("long")
    )
    out = media_context_rollup(media_context_census(grouped, ["shard"]))
    return out.select(
        "shard",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_media").cast("long").alias("n_media"),
        F.col("n_captioned").cast("long").alias("n_captioned"),
        F.col("n_isolated").cast("long").alias("n_isolated"),
        _r(F.col("caption_ratio"), 9).alias("caption_ratio"),
        _r(F.col("media_per_doc"), 9).alias("media_per_doc"),
    )


SQL_MEDIA_CONTEXT_CENSUS_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
parts AS (
  SELECT doc_id, CAST(substr(doc_id, 5) AS BIGINT) % 5 AS shard,
         str_split(span_seq, chr(30)) AS ps
  FROM docs_spans
),
perdoc AS (
  SELECT shard,
    len(list_filter(range(1, len(ps) + 1),
        i -> str_split(ps[i], chr(31))[3] <> chr(0)||'N')) AS n_media,
    len(list_filter(range(1, len(ps) + 1),
        i -> str_split(ps[i], chr(31))[3] <> chr(0)||'N' AND (
             (i > 1 AND str_split(ps[i - 1], chr(31))[3] = chr(0)||'N') OR
             (i < len(ps) AND str_split(ps[i + 1], chr(31))[3] = chr(0)||'N'))))
      AS n_captioned
  FROM parts
),
census AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_media) AS BIGINT) AS n_media,
         CAST(sum(n_captioned) AS BIGINT) AS n_captioned
  FROM perdoc GROUP BY shard
)
SELECT shard, n_docs, n_media, n_captioned,
       CAST(n_media - n_captioned AS BIGINT) AS n_isolated,
       round(1.0 * n_captioned / nullif(n_media, 0), 9) AS caption_ratio,
       round(1.0 * n_media / nullif(n_docs, 0), 9) AS media_per_doc
FROM census
"""


def q_drift_media_census_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-side snapshot drift (pipelines/interleaved.py::
    media_census_drift): PSI + chi2 over per-media_ref slot counts between
    the even/odd doc-id snapshots plus new/vanished/shared ref counts --
    catches an asset migration the structural checks can't see."""
    from pyspark_validator.pipelines.interleaved import media_census_drift

    ds = _docs_spans(spark, sf_dir)
    num = F.substring("doc_id", 5, 12).cast("long")
    out = media_census_drift(ds.filter(num % 2 == 0), ds.filter(num % 2 == 1))
    return out.select(
        _r(F.col("psi"), 9).alias("psi"),
        _r(F.col("chi2"), 6).alias("chi2"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "drift_detected",
        "n_vanished_refs",
        "n_new_refs",
        "n_shared_refs",
    )


SQL_DRIFT_MEDIA_CENSUS_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
slots AS (
  SELECT CAST(substr(doc_id, 5) AS BIGINT) % 2 AS side,
         str_split(s, chr(31))[3] AS bucket
  FROM docs_spans, LATERAL (SELECT unnest(str_split(span_seq, chr(30))) AS s)
  WHERE str_split(s, chr(31))[3] <> chr(0)||'N'
),
counts AS (
  SELECT bucket,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM slots GROUP BY bucket
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k FROM counts),
extra AS (
  SELECT CAST(sum(CASE WHEN cnt_b > 0 AND cnt_c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vanished_refs,
         CAST(sum(CASE WHEN cnt_b = 0 AND cnt_c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_refs,
         CAST(sum(CASE WHEN cnt_b > 0 AND cnt_c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_refs
  FROM counts
),
terms AS (
  SELECT
    ((cnt_c + 0.5) / (n_c + 0.5 * k) - (cnt_b + 0.5) / (n_b + 0.5 * k))
      * ln(((cnt_c + 0.5) / (n_c + 0.5 * k)) / ((cnt_b + 0.5) / (n_b + 0.5 * k))) AS psi_t,
    pow(cnt_b - (cnt_b + cnt_c) * n_b / (n_b + n_c), 2) / ((cnt_b + cnt_c) * n_b / (n_b + n_c))
      + pow(cnt_c - (cnt_b + cnt_c) * n_c / (n_b + n_c), 2) / ((cnt_b + cnt_c) * n_c / (n_b + n_c)) AS chi_t,
    n_b, n_c, k
  FROM counts, tot
)
SELECT round(sum(psi_t), 9) AS psi, round(sum(chi_t), 6) AS chi2,
       CAST(any_value(t.n_b) AS BIGINT) AS n_b, CAST(any_value(t.n_c) AS BIGINT) AS n_c,
       CAST(any_value(t.k) AS BIGINT) AS n_buckets,
       sum(psi_t) > 0.2 AS drift_detected,
       any_value(e.n_vanished_refs) AS n_vanished_refs,
       any_value(e.n_new_refs) AS n_new_refs,
       any_value(e.n_shared_refs) AS n_shared_refs
FROM terms t, extra e
"""


def q_media_context_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-adjacency audit (pipelines/interleaved.py::media_context): one
    row per media span with prev/next-neighbor-is-text flags and the
    ``captioned`` verdict (at least one adjacent text span) -- the
    OBELICS-style image-text pairing signal. Copies share a doc_id, so
    duplicate rows are expected and compared as a multiset. The oracle
    replays the neighbor checks with 1-based list indexing (span_seq is
    already offset-ordered by construction, offset = 64 * position)."""
    from pyspark_validator.pipelines.interleaved import media_context

    ds = _docs_spans(spark, sf_dir)
    return media_context(ds).select(
        "doc_id",
        F.col("offset").cast("int").alias("offset"),
        "media_ref",
        "prev_is_text",
        "next_is_text",
        "captioned",
    )


SQL_MEDIA_CONTEXT_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
parts AS (
  SELECT doc_id, str_split(span_seq, chr(30)) AS ps FROM docs_spans
),
ctx AS (
  SELECT doc_id,
    CAST((i - 1) * 64 AS INTEGER) AS "offset",
    str_split(ps[i], chr(31))[3] AS media_ref,
    CASE WHEN i > 1 THEN str_split(ps[i - 1], chr(31))[3] = chr(0)||'N'
         ELSE FALSE END AS prev_is_text,
    CASE WHEN i < len(ps) THEN str_split(ps[i + 1], chr(31))[3] = chr(0)||'N'
         ELSE FALSE END AS next_is_text
  FROM parts, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i)
  WHERE str_split(ps[i], chr(31))[3] <> chr(0)||'N'
)
SELECT doc_id, "offset", media_ref, prev_is_text, next_is_text,
       prev_is_text OR next_is_text AS captioned
FROM ctx
"""


def q_normalize_interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair transform (pipelines/interleaved.py::normalize_interleaved):
    offset-sort, degenerate-span drop, adjacent-text-run merge. Multi-copy
    doc ids filtered so doc_id keys the per-doc result. The oracle rebuilds
    the merged sequence in SQL: each text span's run id = count of media
    spans before it (window), runs string_agg in position order, media spans
    pass through, and the canonical span encoding md5-compares."""
    from pyspark_validator.canonical import span_seq_expr
    from pyspark_validator.pipelines.interleaved import normalize_interleaved

    ds = _docs_spans(spark, sf_dir)
    did = F.substring("doc_id", 5, 12).cast("long")
    out = normalize_interleaved(ds.filter(did % 100 != 0))
    return out.select(
        "doc_id",
        "n_dropped_spans",
        "n_merged_spans",
        F.md5(span_seq_expr("spans")).alias("spans_md5"),
    )


SQL_NORMALIZE_INTERLEAVED_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
base AS (
  SELECT doc_id, str_split(span_seq, chr(30)) AS ps FROM docs_spans
  WHERE CAST(substr(doc_id, 5) AS BIGINT) % 100 <> 0
),
sp AS (
  SELECT doc_id, i,
         str_split(ps[i], chr(31))[1] AS kind,
         str_split(ps[i], chr(31))[2] AS txt,
         str_split(ps[i], chr(31))[3] AS ref
  FROM base, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i)
),
segged AS (
  SELECT *, count(CASE WHEN ref <> chr(0)||'N' THEN 1 END)
             OVER (PARTITION BY doc_id ORDER BY i) AS seg
  FROM sp
),
items AS (
  SELECT doc_id, min(i) AS pos,
         arg_min(kind, i) || chr(31) || string_agg(txt, ' ' ORDER BY i)
           || chr(31) || chr(0)||'N' AS enc
  FROM segged WHERE ref = chr(0)||'N'
  GROUP BY doc_id, seg
  UNION ALL
  SELECT doc_id, i AS pos,
         kind || chr(31) || chr(0)||'N' || chr(31) || ref AS enc
  FROM segged WHERE ref <> chr(0)||'N'
),
merged AS (
  SELECT doc_id, md5(string_agg(enc, chr(30) ORDER BY pos)) AS spans_md5,
         count(*) AS n_out
  FROM items GROUP BY doc_id
),
counts AS (SELECT doc_id, count(*) AS n_in FROM sp GROUP BY doc_id)
SELECT m.doc_id, CAST(0 AS BIGINT) AS n_dropped_spans,
       CAST(c.n_in - m.n_out AS BIGINT) AS n_merged_spans, m.spans_md5
FROM merged m JOIN counts c USING (doc_id)
"""


def q_caption_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair extraction (pipelines/interleaved.py::caption_pairs):
    per media span with an adjacent text span, the caption taken from the
    preferred side ('after' = the figure-then-caption web layout, falling
    back to 'before'). md5 keeps the caption strings out of the diff. The
    oracle replays the neighbor preference with 1-based list indexing."""
    from pyspark_validator.pipelines.interleaved import caption_pairs

    ds = _docs_spans(spark, sf_dir)
    return caption_pairs(ds).select(
        "doc_id",
        F.col("offset").cast("int").alias("offset"),
        "media_ref",
        F.md5("caption").alias("caption_md5"),
        "caption_side",
    )


SQL_CAPTION_PAIRS_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
parts AS (
  SELECT doc_id, str_split(span_seq, chr(30)) AS ps FROM docs_spans
),
pairs AS (
  SELECT doc_id,
    CAST((i - 1) * 64 AS INTEGER) AS "offset",
    str_split(ps[i], chr(31))[3] AS media_ref,
    CASE WHEN i < len(ps) AND str_split(ps[i + 1], chr(31))[3] = chr(0)||'N'
         THEN str_split(ps[i + 1], chr(31))[2]
         WHEN i > 1 AND str_split(ps[i - 1], chr(31))[3] = chr(0)||'N'
         THEN str_split(ps[i - 1], chr(31))[2] END AS caption,
    CASE WHEN i < len(ps) AND str_split(ps[i + 1], chr(31))[3] = chr(0)||'N'
         THEN 'after' ELSE 'before' END AS caption_side
  FROM parts, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i)
  WHERE str_split(ps[i], chr(31))[3] <> chr(0)||'N'
)
SELECT doc_id, "offset", media_ref, md5(caption) AS caption_md5, caption_side
FROM pairs WHERE caption IS NOT NULL
"""


def q_interleaved_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level multimodal quality gate (pipelines/interleaved.py::
    interleaved_quality_gate): per-doc span/media/token counts, media
    fraction, longest consecutive media run, and the three gate flags
    (media budget / image-wall run / low text). max_media=2 makes the budget
    flag fire on long media-bearing docs at this SF. The oracle's max-run is
    a pure list formula: for each media position, run length = distance back
    to the nearest earlier text position (every slot in between is media by
    construction of 'nearest')."""
    from pyspark_validator.pipelines.interleaved import interleaved_quality_gate

    ds = _docs_spans(spark, sf_dir)
    out = interleaved_quality_gate(
        ds, max_media=2, max_media_run=3, min_text_tokens=8
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_media_spans",
        "n_text_tokens",
        "n_tokens",
        "max_media_run",
        _r(F.col("media_fraction"), 9).alias("media_fraction"),
        "flag_media_budget",
        "flag_media_run",
        "flag_low_text",
        "keep",
    )


SQL_INTERLEAVED_QUALITY_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
parts AS (
  SELECT doc_id, str_split(span_seq, chr(30)) AS ps FROM docs_spans
),
sig AS (
  SELECT doc_id,
    CAST(len(ps) AS BIGINT) AS n_spans,
    CAST(len(list_filter(ps, sp -> str_split(sp, chr(31))[3] <> chr(0)||'N')) AS BIGINT)
      AS n_media_spans,
    CAST(list_sum(list_transform(ps,
      sp -> CASE WHEN str_split(sp, chr(31))[2] = chr(0)||'N' THEN 0
                 ELSE length(regexp_extract_all(str_split(sp, chr(31))[2], '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) END)) AS BIGINT)
      AS n_text_tokens,
    coalesce(list_max(list_transform(
      list_filter(range(1, len(ps) + 1),
                  i -> str_split(ps[i], chr(31))[3] <> chr(0)||'N'),
      i -> i - coalesce(list_max(list_filter(range(1, len(ps) + 1),
             j -> j < i AND str_split(ps[j], chr(31))[3] = chr(0)||'N')), 0))),
      0) AS max_media_run
  FROM parts
)
SELECT doc_id, n_spans, n_media_spans, n_text_tokens,
  CAST(n_text_tokens + 256 * n_media_spans AS BIGINT) AS n_tokens,
  CAST(max_media_run AS BIGINT) AS max_media_run,
  round(1.0 * n_media_spans / n_spans, 9) AS media_fraction,
  n_media_spans > 2 AS flag_media_budget,
  max_media_run > 3 AS flag_media_run,
  n_text_tokens < 8 AS flag_low_text,
  NOT (n_media_spans > 2 OR max_media_run > 3 OR n_text_tokens < 8) AS keep
FROM sig
"""


def q_interleaved_token_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal training-token accounting (pipelines/interleaved.py::
    span_token_costs): text spans cost their BPE-ish token count, media spans
    a flat 256 vision-token budget. Pure per-row exprs, zero shuffle; the
    oracle recomputes both terms per span from the span_seq encoding."""
    from pyspark_validator.pipelines.interleaved import span_token_costs

    ds = _docs_spans(spark, sf_dir)
    return span_token_costs(ds, media_token_cost=256).select(
        "doc_id",
        F.col("n_text_tokens").cast("bigint").alias("n_text_tokens"),
        F.col("n_media_spans").cast("bigint").alias("n_media_spans"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


SQL_INTERLEAVED_TOKEN_COSTS = f"""
WITH {DOCS_SPANS_SQL.strip()},
c AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(str_split(span_seq, chr(30)),
      sp -> CASE WHEN str_split(sp, chr(31))[2] = chr(0)||'N' THEN 0
                 ELSE length(regexp_extract_all(str_split(sp, chr(31))[2], '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) END)) AS BIGINT) AS n_text_tokens,
    CAST(len(list_filter(str_split(span_seq, chr(30)),
                         sp -> str_split(sp, chr(31))[3] <> chr(0)||'N')) AS BIGINT) AS n_media_spans
  FROM docs_spans)
SELECT doc_id, n_text_tokens, n_media_spans,
       CAST(n_text_tokens + 256 * n_media_spans AS BIGINT) AS n_tokens
FROM c
"""


def q_interleaved_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-aligned greedy context chunking (pipelines/interleaved.py::
    chunk_interleaved): consecutive offset-ordered spans packed until the
    multimodal budget (text BPE + 16 tokens per media span) would overflow;
    media spans land whole. Multi-copy doc ids are filtered so doc_id keys
    the per-doc chain. The oracle replays the greedy fold as a per-doc
    recursive-CTE chain DP and md5-compares each chunk's canonical span
    encoding."""
    from pyspark_validator.canonical import span_seq_expr
    from pyspark_validator.pipelines.interleaved import chunk_interleaved

    ds = _docs_spans(spark, sf_dir)
    did = F.substring("doc_id", 5, 12).cast("long")
    out = chunk_interleaved(
        ds.filter(did % 100 != 0), chunk_tokens=24, media_token_cost=16
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "n_spans",
        "n_tokens",
        F.md5(span_seq_expr("spans")).alias("spans_md5"),
    )


SQL_INTERLEAVED_CHUNK_DOCS = f"""
WITH RECURSIVE {DOCS_SPANS_SQL.strip()},
base AS (
  SELECT doc_id, str_split(span_seq, chr(30)) AS sp
  FROM docs_spans WHERE CAST(substr(doc_id, 5) AS BIGINT) % 100 <> 0
),
el AS (
  SELECT doc_id, u.pos, sp[u.pos] AS el,
         CASE WHEN str_split(sp[u.pos], chr(31))[3] <> chr(0)||'N' THEN 16
              ELSE length(regexp_extract_all(str_split(sp[u.pos], chr(31))[2], '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) END AS cost
  FROM base, LATERAL (SELECT unnest(range(1, len(sp) + 1)) AS pos) u
),
rec AS (
  SELECT doc_id, 1 AS pos, cost AS cur, 0 AS chunk FROM el WHERE pos = 1
  UNION ALL
  SELECT r.doc_id, r.pos + 1,
         CASE WHEN r.cur > 0 AND r.cur + e.cost > 24 THEN e.cost ELSE r.cur + e.cost END,
         CASE WHEN r.cur > 0 AND r.cur + e.cost > 24 THEN r.chunk + 1 ELSE r.chunk END
  FROM rec r JOIN el e ON e.doc_id = r.doc_id AND e.pos = r.pos + 1
)
SELECT r.doc_id, CAST(r.chunk AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(e.cost) AS BIGINT) AS n_tokens,
       md5(array_to_string(list(e.el ORDER BY e.pos), chr(30))) AS spans_md5
FROM rec r JOIN el e ON e.doc_id = r.doc_id AND e.pos = r.pos
GROUP BY r.doc_id, r.chunk
"""


def q_curation_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split duplicate-leakage audit (pipelines/curation.py::
    split_leakage over pipelines/dedup.py::exact_duplicate_pairs): the
    planted exact duplicates land in md5-hash splits, and every dup pair is
    counted by its unordered split combination -- a non-zero train x val/test
    row is eval contamination. The oracle replays the normalized-text pair
    join and the md5 cut points end-to-end."""
    from pyspark_validator.pipelines.curation import hash_split, split_leakage
    from pyspark_validator.pipelines.dedup import exact_duplicate_pairs

    d = _documents_planted(spark, sf_dir)
    pairs = exact_duplicate_pairs(d, text_col="text", id_col="doc_id")
    sp = hash_split(
        d, fractions={"test": 0.1, "val": 0.1, "train": 0.8}, salt="leak"
    )
    return split_leakage(pairs, sp).select(
        "split_a", "split_b", F.col("n_pairs").cast("bigint").alias("n_pairs")
    )


SQL_CURATION_SPLIT_LEAKAGE = f"""
WITH {DOCUMENTS_PLANTED_SQL.strip()},
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents_planted
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM norm a JOIN norm b ON a.t = b.t AND a.doc_id < b.doc_id
),
s AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|leak'), 1, 12) < '{{t1}}' THEN 'test'
              WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|leak'), 1, 12) < '{{t2}}' THEN 'val'
              ELSE 'train' END AS split
  FROM documents_planted
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN s sa ON pairs.id_a = sa.doc_id
JOIN s sb ON pairs.id_b = sb.doc_id
GROUP BY 1, 2
""".format(t1=_hex_cut(0.1), t2=_hex_cut(0.2))


def q_kanon_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + (distinct & entropy) l-diversity over customer
    (checks/anon.py): QI = (c_nationkey, c_mktsegment), k=10, sensitive =
    floor(c_acctbal/1000) at l=5. The privacy dual of the UCC check -- one
    groupBy(QI, sensitive) -> groupBy(QI) chain, same plan family as FD."""
    from pyspark_validator.checks.anon import anon_check

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000.0)
    )
    s = anon_check(
        cust, ["c_nationkey", "c_mktsegment"], k=10, sensitive="bal_bucket", l=5
    ).summary()
    return s.select(
        "n_rows",
        "n_clusters",
        F.col("min_cluster_size").cast("bigint").alias("min_cluster_size"),
        "n_k_violating_clusters",
        "n_k_violating_rows",
        F.col("min_distinct_sensitive").cast("bigint").alias(
            "min_distinct_sensitive"
        ),
        "n_l_violating_clusters",
        "n_l_violating_rows",
        "n_entropy_violating_clusters",
        _r(F.col("suppression_ratio"), 9).alias("suppression_ratio"),
        "holds",
    )


SQL_KANON_CUSTOMER = """
WITH lvl AS (
  SELECT c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS s,
         count(*) AS c_sy
  FROM customer GROUP BY 1, 2, 3
),
cl AS (
  SELECT c_nationkey, c_mktsegment, sum(c_sy) AS cnt, count(*) AS nds,
         ln(sum(c_sy)) - sum(c_sy * ln(c_sy)) / sum(c_sy) AS ent
  FROM lvl GROUP BY 1, 2
)
SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(min(cnt) AS BIGINT) AS min_cluster_size,
       CAST(sum(CASE WHEN cnt < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_violating_clusters,
       CAST(sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) AS BIGINT) AS n_k_violating_rows,
       CAST(min(nds) AS BIGINT) AS min_distinct_sensitive,
       CAST(sum(CASE WHEN nds < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_l_violating_clusters,
       CAST(sum(CASE WHEN nds < 5 THEN cnt ELSE 0 END) AS BIGINT) AS n_l_violating_rows,
       CAST(sum(CASE WHEN ent < 1.6094379124341003 - 1e-12 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_entropy_violating_clusters,
       round(sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) * 1.0 / sum(cnt), 9)
         AS suppression_ratio,
       (sum(CASE WHEN cnt < 10 THEN 1 ELSE 0 END) = 0
        AND sum(CASE WHEN nds < 5 THEN 1 ELSE 0 END) = 0) AS holds
FROM cl
"""


def q_benford_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of l_extendedprice (checks/benford.py):
    9-digit census (one map-side-combinable groupBy), chi2 vs the exact
    chi2_ppf(0.95, 8) critical value, Nigrini MAD bands. TPC-H prices are
    near-uniform in the leading digit, so the verdict is nonconformity --
    the point is the exact statistic, replayed digit-by-digit in SQL."""
    from pyspark_validator.checks.benford import benford_check

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = benford_check(li, "l_extendedprice").summary()
    return s.select(
        "n",
        _r(F.col("chi2"), 6).alias("chi2"),
        _r(F.col("chi2_critical"), 9).alias("chi2_critical"),
        _r(F.col("mad"), 9).alias("mad"),
        "mad_conformity",
        "chi2_conforms",
        "holds",
    )


SQL_BENFORD_LINEITEM = """
WITH d AS (
  SELECT CAST(floor(abs(l_extendedprice)
              / pow(10.0, floor(log10(abs(l_extendedprice))))) AS INT) AS digit
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_extendedprice <> 0
),
cen AS (SELECT digit, count(*) AS cnt FROM d GROUP BY 1),
expd AS (SELECT dd AS digit, log10(1.0 + 1.0 / dd) AS p
         FROM (SELECT unnest(range(1, 10)) AS dd)),
tot AS (SELECT sum(cnt) AS n FROM cen),
t AS (
  SELECT any_value(n) AS n,
         sum(pow(coalesce(cnt, 0) * 1.0 / n - p, 2) / p) AS chi2_per_n,
         avg(abs(coalesce(cnt, 0) * 1.0 / n - p)) AS mad
  FROM expd LEFT JOIN cen USING (digit), tot
)
SELECT CAST(n AS BIGINT) AS n,
       round(chi2_per_n * n, 6) AS chi2,
       round(15.507313055865446, 9) AS chi2_critical,
       round(mad, 9) AS mad,
       CASE WHEN mad <= 0.006 THEN 'close'
            WHEN mad <= 0.012 THEN 'acceptable'
            WHEN mad <= 0.015 THEN 'marginal'
            ELSE 'nonconformity' END AS mad_conformity,
       (chi2_per_n * n <= 15.507313055865446) AS chi2_conforms,
       (mad <= 0.012) AS holds
FROM t
"""


def q_assoc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact categorical association (checks/assoc.py) between o_orderstatus
    and o_orderpriority: chi2 / Cramér's V (+ Bergsma correction) / entropies
    / mutual information / Theil's U both directions, all from ONE joint
    census shuffle. The directional U is the engine's exact complement to
    the AFD error family (U(B|A)=1 <=> FD A -> B)."""
    from pyspark_validator.checks.assoc import assoc_check

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = assoc_check(orders, "o_orderstatus", "o_orderpriority").summary()
    return s.select(
        "n",
        "r",
        "c",
        _r(F.col("chi2"), 6).alias("chi2"),
        "dof",
        _r(F.col("cramers_v"), 9).alias("cramers_v"),
        _r(F.col("cramers_v_corrected"), 9).alias("cramers_v_corrected"),
        _r(F.col("h_a"), 9).alias("h_a"),
        _r(F.col("h_b"), 9).alias("h_b"),
        _r(F.col("h_ab"), 9).alias("h_ab"),
        _r(F.col("mutual_info"), 9).alias("mutual_info"),
        _r(F.col("theil_u_a_given_b"), 9).alias("theil_u_a_given_b"),
        _r(F.col("theil_u_b_given_a"), 9).alias("theil_u_b_given_a"),
        _r(F.col("chi2_critical"), 6).alias("chi2_critical"),
        "dependent",
    )


#: z_{0.95} (assoc._norm_ppf(0.95)) inlined so the Wilson-Hilferty gate is
#: bit-identical across engines.
_Z95 = "1.6448536269514722"

SQL_ASSOC_ORDERS = f"""
WITH cen AS (SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS cnt
             FROM orders GROUP BY 1, 2),
ra AS (SELECT a, sum(cnt) AS ca FROM cen GROUP BY 1),
cb AS (SELECT b, sum(cnt) AS cb FROM cen GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM cen),
sa AS (SELECT count(*) AS r, sum(ca * ln(ca)) AS sca FROM ra),
sb AS (SELECT count(*) AS c, sum(cb * ln(cb)) AS scb FROM cb),
sab AS (SELECT sum(cnt * ln(cnt)) AS scnt FROM cen),
chi AS (SELECT sum(pow(cnt - ca * cb / n, 2) / (ca * cb / n) - ca * cb / n) AS x
        FROM cen JOIN ra USING (a) JOIN cb USING (b), tot),
m AS (
  SELECT n, r, c, x + n AS chi2,
         ln(n) - sca / n AS h_a, ln(n) - scb / n AS h_b,
         ln(n) - scnt / n AS h_ab,
         greatest((ln(n) - sca / n) + (ln(n) - scb / n) - (ln(n) - scnt / n),
                  0.0) AS mi,
         (x + n) / n AS phi2,
         greatest((x + n) / n - (r - 1.0) * (c - 1.0) / (n - 1.0), 0.0) AS phi2c,
         r - (r - 1.0) * (r - 1.0) / (n - 1.0) AS rc,
         c - (c - 1.0) * (c - 1.0) / (n - 1.0) AS cc,
         (r - 1.0) * (c - 1.0) AS dof
  FROM tot, sa, sb, sab, chi
)
SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
       round(chi2, 6) AS chi2, CAST(dof AS BIGINT) AS dof,
       round(CASE WHEN least(r, c) > 1
                  THEN sqrt(phi2 / (least(r, c) - 1.0)) ELSE 0.0 END, 9)
         AS cramers_v,
       round(CASE WHEN least(rc, cc) > 1
                  THEN sqrt(phi2c / (least(rc, cc) - 1.0)) ELSE 0.0 END, 9)
         AS cramers_v_corrected,
       round(h_a, 9) AS h_a, round(h_b, 9) AS h_b, round(h_ab, 9) AS h_ab,
       round(mi, 9) AS mutual_info,
       round(CASE WHEN h_a > 0 THEN mi / h_a END, 9) AS theil_u_a_given_b,
       round(CASE WHEN h_b > 0 THEN mi / h_b END, 9) AS theil_u_b_given_a,
       round(dof * pow(1.0 - 2.0 / (9.0 * dof)
                       + {_Z95} * sqrt(2.0 / (9.0 * dof)), 3), 6)
         AS chi2_critical,
       (chi2 > dof * pow(1.0 - 2.0 / (9.0 * dof)
                         + {_Z95} * sqrt(2.0 / (9.0 * dof)), 3)) AS dependent
FROM m
"""


def q_drift_js_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence drift on event_type between even/odd event
    ids (checks/drift.py::js_divergence_drift): smoothing-free, bounded [0,1]
    companion to the PSI/chi2 categorical drift query."""
    from pyspark_validator.checks.drift import js_divergence_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.filter(F.col("event_id") % 2 == 0)
    c = ev.filter(F.col("event_id") % 2 == 1)
    d = js_divergence_drift(b, c, "event_type", threshold=0.05)
    return d.select(
        _r(F.col("jsd"), 9).alias("jsd"),
        _r(F.col("js_distance"), 9).alias("js_distance"),
        "n_b",
        "n_c",
        "n_buckets",
        "drift_detected",
    )


SQL_DRIFT_JS_EVENTS = """
WITH counts AS (
  SELECT event_type,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM events GROUP BY event_type
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c, count(*) AS k FROM counts),
j AS (
  SELECT (CASE WHEN cnt_b > 0 THEN (cnt_b * 1.0 / n_b)
               * ln((cnt_b * 1.0 / n_b)
                    / ((cnt_b * 1.0 / n_b + cnt_c * 1.0 / n_c) / 2))
               / 0.6931471805599453 ELSE 0.0 END
        + CASE WHEN cnt_c > 0 THEN (cnt_c * 1.0 / n_c)
               * ln((cnt_c * 1.0 / n_c)
                    / ((cnt_b * 1.0 / n_b + cnt_c * 1.0 / n_c) / 2))
               / 0.6931471805599453 ELSE 0.0 END) AS term
  FROM counts, tot
),
s AS (SELECT sum(term) / 2 AS jsd FROM j)
SELECT round(any_value(jsd), 9) AS jsd,
       round(sqrt(greatest(any_value(jsd), 0.0)), 9) AS js_distance,
       CAST(any_value(n_b) AS BIGINT) AS n_b,
       CAST(any_value(n_c) AS BIGINT) AS n_c,
       any_value(k) AS n_buckets,
       (any_value(jsd) > 0.05) AS drift_detected
FROM s, tot
"""


def q_drift_wasserstein_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein drift of `value` between even/odd event ids on the
    same 30-bin sketch as drift_numeric_events (checks/drift.py::
    wasserstein_drift): the integral of the CDF gap, span-weighted across
    absent bins."""
    from pyspark_validator.checks.drift import wasserstein_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.filter(F.col("event_id") % 2 == 0)
    c = ev.filter(F.col("event_id") % 2 == 1)
    d = wasserstein_drift(
        b, c, "value", num_bins=30, bin_edges=(0.0, 600.0), threshold=5.0
    )
    return d.select(
        _r(F.col("wasserstein"), 9).alias("wasserstein"),
        _r(F.col("wasserstein_norm"), 9).alias("wasserstein_norm"),
        "n_b",
        "n_c",
        "drift_detected",
    )


SQL_DRIFT_WASSERSTEIN_EVENTS = """
WITH binned AS (
  SELECT least(greatest(CAST(floor(value / 20.0) AS BIGINT), -1), 30) AS bucket,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_b,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cnt_c
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
tot AS (SELECT sum(cnt_b) AS tb, sum(cnt_c) AS tc FROM binned),
cum AS (
  SELECT abs(sum(cnt_b) OVER w * 1.0 / tb - sum(cnt_c) OVER w * 1.0 / tc) AS gap,
         coalesce(lead(bucket) OVER w - bucket, 0) AS span
  FROM binned, tot
  WINDOW w AS (ORDER BY bucket)
),
s AS (SELECT sum(gap * span) * 20.0 AS w1 FROM cum)
SELECT round(any_value(w1), 9) AS wasserstein,
       round(any_value(w1) / 600.0, 9) AS wasserstein_norm,
       CAST(any_value(tb) AS BIGINT) AS n_b,
       CAST(any_value(tc) AS BIGINT) AS n_c,
       (any_value(w1) > 5.0) AS drift_detected
FROM s, tot
"""


def q_zipf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law vocabulary fit over documents.text (pipelines/text.py::
    zipf_signals): OLS of ln(freq) on ln(rank) over the top-500 types of the
    token census. The synthetic corpus has a near-uniform tiny vocabulary,
    so the slope sits far from -1 and the band gate fails -- which is
    exactly what this check is for (template-farm detection)."""
    from pyspark_validator.pipelines.text import zipf_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = zipf_signals(docs, max_rank=500)
    return s.select(
        "n_tokens",
        "n_types",
        "n_ranks_fit",
        _r(F.col("top1_share"), 9).alias("top1_share"),
        _r(F.col("zipf_slope"), 9).alias("zipf_slope"),
        _r(F.col("zipf_intercept"), 9).alias("zipf_intercept"),
        _r(F.col("r2"), 9).alias("r2"),
        "holds",
    )


SQL_ZIPF_DOCS = """
WITH toks AS (
  SELECT unnest(string_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents
),
cen AS (SELECT token, count(*) AS cnt FROM toks WHERE token <> '' GROUP BY 1),
tot AS (SELECT sum(cnt) AS n_tokens, count(*) AS n_types, max(cnt) AS max_cnt
        FROM cen),
head AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
  FROM cen ORDER BY cnt DESC, token LIMIT 500
),
sums AS (
  SELECT count(*) AS m, sum(ln(rank)) AS sx, sum(ln(cnt)) AS sy,
         sum(ln(rank) * ln(rank)) AS sxx, sum(ln(cnt) * ln(cnt)) AS syy,
         sum(ln(rank) * ln(cnt)) AS sxy
  FROM head
),
fit AS (
  SELECT m, sx, sy,
         (m * sxy - sx * sy) / (m * sxx - sx * sx) AS slope,
         pow(m * sxy - sx * sy, 2)
           / ((m * sxx - sx * sx) * (m * syy - sy * sy)) AS r2
  FROM sums
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(m AS BIGINT) AS n_ranks_fit,
       round(max_cnt * 1.0 / n_tokens, 9) AS top1_share,
       round(slope, 9) AS zipf_slope,
       round((sy - slope * sx) / m, 9) AS zipf_intercept,
       round(r2, 9) AS r2,
       (slope BETWEEN -1.5 AND -0.7) AS holds
FROM tot, fit
"""


def q_format_conformance_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-facto format gate (checks/stats.py::format_conformance): c_name's
    character-class mask ('Aaaaaaaa#999999999') must cover >= 99% of rows.
    One groupBy over mask cardinality -- tiny by construction."""
    from pyspark_validator.checks.stats import format_conformance

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = format_conformance(cust, "c_name", min_fraction=0.99)
    return s.select(
        "n",
        "n_masks",
        "top_mask",
        "top_mask_cnt",
        _r(F.col("top_mask_fraction"), 9).alias("top_mask_fraction"),
        "holds",
    )


SQL_FORMAT_CONFORMANCE_CUSTOMER = """
WITH cen AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(
           c_name, '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g')
           AS mask,
         count(*) AS cnt
  FROM customer GROUP BY 1
),
top AS (SELECT mask, cnt FROM cen ORDER BY cnt DESC, mask LIMIT 1),
tot AS (SELECT sum(cnt) AS n, count(*) AS n_masks FROM cen)
SELECT CAST(n AS BIGINT) AS n, CAST(n_masks AS BIGINT) AS n_masks,
       mask AS top_mask, CAST(cnt AS BIGINT) AS top_mask_cnt,
       round(cnt * 1.0 / n, 9) AS top_mask_fraction,
       (cnt >= 0.99 * n) AS holds
FROM tot, top
"""


def q_format_profile_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 format-mask census of p_type (checks/stats.py::format_profile):
    the data-cleaning format profile, deterministic (count desc, mask asc)."""
    from pyspark_validator.checks.stats import format_profile

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return format_profile(part, "p_type", k=5).select(
        "mask", "cnt", _r(F.col("fraction"), 9).alias("fraction")
    )


SQL_FORMAT_PROFILE_PART = """
WITH cen AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(
           p_type, '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g')
           AS mask,
         count(*) AS cnt
  FROM part GROUP BY 1
),
tot AS (SELECT sum(cnt) AS n FROM cen)
SELECT mask, CAST(cnt AS BIGINT) AS cnt, round(cnt * 1.0 / n, 9) AS fraction
FROM cen, tot
ORDER BY cnt DESC, mask
LIMIT 5
"""


def q_null_patterns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness-structure census (checks/stats.py::null_pattern_census)
    over two deterministically-planted nullable views of events (value > 100
    nulled; props nulled on 'view' rows): reveals correlated missingness the
    per-column null rates hide. <= 2^k census rows shuffle."""
    from pyspark_validator.checks.stats import null_pattern_census

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.when(F.col("value") > 100, None).otherwise(F.col("value")).alias("v"),
        F.when(F.col("event_type") == "view", None)
        .otherwise(F.col("props"))
        .alias("p"),
    )
    c = null_pattern_census(ev, ["v", "p"])
    return c.select("pattern", "cnt", _r(F.col("fraction"), 9).alias("fraction"))


SQL_NULL_PATTERNS_EVENTS = """
WITH m AS (
  SELECT (CASE WHEN value > 100 THEN '1' ELSE '0' END)
         || (CASE WHEN event_type = 'view' THEN '1' ELSE '0' END) AS pattern
  FROM events
),
cen AS (SELECT pattern, count(*) AS cnt FROM m GROUP BY 1),
tot AS (SELECT sum(cnt) AS n FROM cen)
SELECT pattern, CAST(cnt AS BIGINT) AS cnt, round(cnt * 1.0 / n, 9) AS fraction
FROM cen, tot
ORDER BY cnt DESC, pattern
"""


def q_drift_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two snapshot slices of documents
    (pipelines/text.py::vocab_drift): baseline = even doc ids with a planted
    'vnshtok' type on doc_id % 10 == 2, current = odd ids with a planted
    'xq7tok' type on doc_id % 10 == 1 -- so the census join must surface
    exactly one vanished and one new type plus their token masses."""
    from pyspark_validator.pipelines.text import vocab_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.when(
            F.col("doc_id") % 10 == 2, F.concat(F.col("text"), F.lit(" vnshtok"))
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    c = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.when(
            F.col("doc_id") % 10 == 1, F.concat(F.col("text"), F.lit(" xq7tok"))
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    d = vocab_drift(b, c)
    return d.select(
        "n_tokens_b",
        "n_tokens_c",
        "n_types_b",
        "n_types_c",
        "n_new_types",
        "n_vanished_types",
        "n_shared_types",
        _r(F.col("new_type_mass"), 9).alias("new_type_mass"),
        _r(F.col("vanished_type_mass"), 9).alias("vanished_type_mass"),
        _r(F.col("jsd"), 9).alias("jsd"),
        "drift_detected",
    )


SQL_DRIFT_VOCAB_DOCS = """
WITH tb AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(
           CASE WHEN doc_id % 10 = 2 THEN text || ' vnshtok' ELSE text END),
           '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents WHERE doc_id % 2 = 0
),
tc AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(
           CASE WHEN doc_id % 10 = 1 THEN text || ' xq7tok' ELSE text END),
           '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents WHERE doc_id % 2 = 1
),
cb AS (SELECT token, count(*) AS cnt_b FROM tb WHERE token <> '' GROUP BY 1),
cc AS (SELECT token, count(*) AS cnt_c FROM tc WHERE token <> '' GROUP BY 1),
j AS (
  SELECT coalesce(cb.cnt_b, 0) AS cnt_b, coalesce(cc.cnt_c, 0) AS cnt_c
  FROM cb FULL OUTER JOIN cc USING (token)
),
tot AS (SELECT sum(cnt_b) AS n_b, sum(cnt_c) AS n_c FROM j),
terms AS (
  SELECT cnt_b, cnt_c,
         CASE WHEN cnt_b > 0 THEN (cnt_b * 1.0 / n_b)
              * ln((cnt_b * 1.0 / n_b)
                   / ((cnt_b * 1.0 / n_b + cnt_c * 1.0 / n_c) / 2))
              / 0.6931471805599453 ELSE 0.0 END AS term_p,
         CASE WHEN cnt_c > 0 THEN (cnt_c * 1.0 / n_c)
              * ln((cnt_c * 1.0 / n_c)
                   / ((cnt_b * 1.0 / n_b + cnt_c * 1.0 / n_c) / 2))
              / 0.6931471805599453 ELSE 0.0 END AS term_q,
         n_b, n_c
  FROM j, tot
)
SELECT CAST(max(n_b) AS BIGINT) AS n_tokens_b,
       CAST(max(n_c) AS BIGINT) AS n_tokens_c,
       CAST(sum(CASE WHEN cnt_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_b,
       CAST(sum(CASE WHEN cnt_c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_c,
       CAST(sum(CASE WHEN cnt_b = 0 AND cnt_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new_types,
       CAST(sum(CASE WHEN cnt_b > 0 AND cnt_c = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_vanished_types,
       CAST(sum(CASE WHEN cnt_b > 0 AND cnt_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_types,
       round(sum(CASE WHEN cnt_b = 0 AND cnt_c > 0
                      THEN cnt_c * 1.0 / n_c ELSE 0 END), 9) AS new_type_mass,
       round(sum(CASE WHEN cnt_b > 0 AND cnt_c = 0
                      THEN cnt_b * 1.0 / n_b ELSE 0 END), 9)
         AS vanished_type_mass,
       round((sum(term_p) + sum(term_q)) / 2, 9) AS jsd,
       ((sum(term_p) + sum(term_q)) / 2 > 0.1
        OR sum(CASE WHEN cnt_b = 0 AND cnt_c > 0
                    THEN cnt_c * 1.0 / n_c ELSE 0 END) > 0.2) AS drift_detected
FROM terms
"""


def q_precedence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-precedence constraint (checks/temporal.py::precedence_check):
    every purchase must be preceded by a strictly earlier click of the same
    user -- ONE range-frame window pass per user, no self-join. The oracle
    rewrites the existential look-back as min(click ts) per user."""
    from pyspark_validator.checks.temporal import precedence_check

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = precedence_check(
        ev,
        ["user_id"],
        "ts",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    )
    return s.select(
        "n_rows", "n_consequents", "n_unpreceded", "n_keys_violating", "holds"
    )


SQL_PRECEDENCE_EVENTS = """
WITH first_click AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'click'
  GROUP BY 1
),
flags AS (
  SELECT e.user_id,
         (e.event_type = 'purchase') AS c,
         (e.event_type = 'purchase'
          AND (f.t0 IS NULL OR f.t0 >= e.ts)) AS u
  FROM events e LEFT JOIN first_click f USING (user_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_consequents,
       CAST(sum(CASE WHEN u THEN 1 ELSE 0 END) AS BIGINT) AS n_unpreceded,
       CAST(count(DISTINCT CASE WHEN u THEN user_id END) AS BIGINT)
         AS n_keys_violating,
       (sum(CASE WHEN u THEN 1 ELSE 0 END) = 0) AS holds
FROM flags
"""


def q_interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap constraint (checks/temporal.py::
    interval_overlap_check) over per-customer derived validity ranges
    [o_orderdate, o_orderdate + (o_orderkey % 7) days]: sorted-within-key
    running-max-of-ends window pass instead of the O(n^2) DC pair join."""
    from pyspark_validator.checks.temporal import interval_overlap_check

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            F.pmod(F.col("o_orderkey"), F.lit(7)).cast("int"),
        ).alias("e"),
    )
    r = interval_overlap_check(orders, ["o_custkey"], "s", "e")
    return r.select(
        "n_intervals", "n_keys", "n_overlaps", "n_bad_bounds", "holds"
    )


SQL_INTERVAL_OVERLAP_ORDERS = """
WITH iv AS (
  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 7 AS INT) AS e
  FROM orders
),
flag AS (
  SELECT k, s,
         max(e) OVER (PARTITION BY k ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end
  FROM iv
)
SELECT CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN prev_end IS NOT NULL AND s < prev_end
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
       CAST(0 AS BIGINT) AS n_bad_bounds,
       (sum(CASE WHEN prev_end IS NOT NULL AND s < prev_end
                 THEN 1 ELSE 0 END) = 0) AS holds
FROM flag
"""


def q_reconcile_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table aggregate reconciliation (checks/reconcile.py):
    o_totalprice vs the lineitem-derived sum(extprice*(1-disc)*(1+tax)) at
    rel_tol 0.5 -- one child groupBy + one outer join; the synthetic tables
    are independent so the check reports a large, deterministic mismatch
    census (that is the point: it DETECTS the broken rollup)."""
    from pyspark_validator.checks.reconcile import reconciliation_check

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rc = reconciliation_check(
        orders,
        li,
        ["o_orderkey"],
        ["l_orderkey"],
        F.col("o_totalprice"),
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ),
        rel_tol=0.5,
    )
    s = rc.summary()
    return s.select(
        "n_parent_keys",
        "n_child_keys",
        "n_matched",
        "n_mismatched",
        "n_orphan_child",
        "n_missing_child",
        _r(F.col("max_abs_diff"), 6).alias("max_abs_diff"),
        "holds",
    )


SQL_RECONCILE_ORDERS_LINEITEM = """
WITH d AS (
  SELECT l_orderkey AS k,
         sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS derived
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_totalprice AS stored, d.derived,
         CASE WHEN o.o_orderkey IS NULL THEN 'orphan_child'
              WHEN d.k IS NULL THEN 'missing_child'
              WHEN abs(o.o_totalprice - d.derived) <= 0.0
                   OR abs(o.o_totalprice - d.derived)
                      <= 0.5 * abs(o.o_totalprice) THEN 'matched'
              ELSE 'mismatched' END AS status
  FROM orders o FULL OUTER JOIN d ON o.o_orderkey = d.k
)
SELECT CAST(sum(CASE WHEN status <> 'orphan_child' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_parent_keys,
       CAST(sum(CASE WHEN status <> 'missing_child' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_child_keys,
       CAST(sum(CASE WHEN status = 'matched' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(sum(CASE WHEN status = 'mismatched' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched,
       CAST(sum(CASE WHEN status = 'orphan_child' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphan_child,
       CAST(sum(CASE WHEN status = 'missing_child' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_child,
       round(max(CASE WHEN status IN ('matched', 'mismatched')
                      THEN abs(stored - derived) END), 6) AS max_abs_diff,
       (sum(CASE WHEN status IN ('mismatched', 'orphan_child', 'missing_child')
                 THEN 1 ELSE 0 END) = 0) AS holds
FROM j
"""


def q_class_balance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-shift gate (checks/drift.py::class_balance): event_type vs a
    given uniform 20% expectation -- fixed analytic baseline like Benford,
    k+1 pure conditional sums, no groupBy at all."""
    from pyspark_validator.checks.drift import class_balance

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exp = {k: 0.2 for k in ["click", "view", "purchase", "signup", "error"]}
    s = class_balance(ev, "event_type", exp, max_psi=0.05)
    return s.select(
        "n",
        "n_other",
        _r(F.col("psi"), 9).alias("psi"),
        _r(F.col("max_abs_dev"), 9).alias("max_abs_dev"),
        "worst_class",
        "holds",
    )


SQL_CLASS_BALANCE_EVENTS = """
WITH cnt AS (
  SELECT count(event_type) AS n,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2,
         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c3,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c4
  FROM events
),
m AS (
  SELECT n, c0, c1, c2, c3, c4,
         n - c0 - c1 - c2 - c3 - c4 AS oth,
         ((c0 + 0.5) / (n + 2.5) - 0.2) * ln(((c0 + 0.5) / (n + 2.5)) / 0.2)
       + ((c1 + 0.5) / (n + 2.5) - 0.2) * ln(((c1 + 0.5) / (n + 2.5)) / 0.2)
       + ((c2 + 0.5) / (n + 2.5) - 0.2) * ln(((c2 + 0.5) / (n + 2.5)) / 0.2)
       + ((c3 + 0.5) / (n + 2.5) - 0.2) * ln(((c3 + 0.5) / (n + 2.5)) / 0.2)
       + ((c4 + 0.5) / (n + 2.5) - 0.2) * ln(((c4 + 0.5) / (n + 2.5)) / 0.2)
       + CASE WHEN n - c0 - c1 - c2 - c3 - c4 > 0
              THEN ((n - c0 - c1 - c2 - c3 - c4) * 1.0 / n - 1e-12)
                   * ln(((n - c0 - c1 - c2 - c3 - c4) * 1.0 / n) / 1e-12)
              ELSE 0.0 END
         AS psi,
         greatest(abs(c0 * 1.0 / n - 0.2), abs(c1 * 1.0 / n - 0.2),
                  abs(c2 * 1.0 / n - 0.2), abs(c3 * 1.0 / n - 0.2),
                  abs(c4 * 1.0 / n - 0.2),
                  abs((n - c0 - c1 - c2 - c3 - c4) * 1.0 / n - 1e-12)) AS mx
  FROM cnt
)
SELECT CAST(n AS BIGINT) AS n, CAST(oth AS BIGINT) AS n_other,
       round(psi, 9) AS psi, round(mx, 9) AS max_abs_dev,
       CASE WHEN abs(oth * 1.0 / n - 1e-12) = mx THEN '__other__'
            WHEN abs(c4 * 1.0 / n - 0.2) = mx THEN 'view'
            WHEN abs(c3 * 1.0 / n - 0.2) = mx THEN 'signup'
            WHEN abs(c2 * 1.0 / n - 0.2) = mx THEN 'purchase'
            WHEN abs(c1 * 1.0 / n - 0.2) = mx THEN 'error'
            ELSE 'click' END AS worst_class,
       (psi <= 0.05) AS holds
FROM m
"""

def q_caption_consistency_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-media-different-caption audit over the interleaved table
    (pipelines/interleaved.py::caption_consistency_summary): media_ref reuse
    comes from the derived table's (did*31+i) %% 100000 ref rule plus the
    duplicated copies; identical copies carry identical captions so the
    inconsistency count is exactly the cross-doc ref collisions with
    different neighbors."""
    from pyspark_validator.pipelines.interleaved import caption_consistency_summary

    ds = _docs_spans(spark, sf_dir)
    s = caption_consistency_summary(ds)
    return s.select(
        "n_refs",
        "n_pairs",
        "n_reused_refs",
        "n_inconsistent_refs",
        F.col("max_distinct_captions").cast("bigint").alias(
            "max_distinct_captions"
        ),
        _r(F.col("inconsistent_fraction"), 9).alias("inconsistent_fraction"),
        "holds",
    )


SQL_CAPTION_CONSISTENCY_DOCS = f"""
WITH {DOCS_SPANS_SQL.strip()},
parts AS (
  SELECT doc_id, str_split(span_seq, chr(30)) AS ps FROM docs_spans
),
pairs AS (
  SELECT
    str_split(ps[i], chr(31))[3] AS media_ref,
    CASE WHEN i < len(ps) AND str_split(ps[i + 1], chr(31))[3] = chr(0)||'N'
         THEN str_split(ps[i + 1], chr(31))[2]
         WHEN i > 1 AND str_split(ps[i - 1], chr(31))[3] = chr(0)||'N'
         THEN str_split(ps[i - 1], chr(31))[2] END AS caption
  FROM parts, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i)
  WHERE str_split(ps[i], chr(31))[3] <> chr(0)||'N'
),
census AS (
  SELECT media_ref, count(*) AS n_uses,
         count(DISTINCT trim(regexp_replace(lower(caption), '\\s+', ' ', 'g')))
           AS nd
  FROM pairs WHERE caption IS NOT NULL
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_refs,
       CAST(sum(n_uses) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN n_uses > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reused_refs,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inconsistent_refs,
       CAST(max(nd) AS BIGINT) AS max_distinct_captions,
       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0
             / nullif(sum(CASE WHEN n_uses > 1 THEN 1 ELSE 0 END), 0), 9)
         AS inconsistent_fraction,
       coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0
                / nullif(sum(CASE WHEN n_uses > 1 THEN 1 ELSE 0 END), 0) <= 0.0,
                TRUE) AS holds
FROM census
"""


def q_drift_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter drift (checks/drift.py::topk_drift): top-4 event_type
    sets of even vs odd event ids -- set Jaccard + normalized Spearman
    footrule over shared ranks + top-1 identity. Census -> distributed
    top-k heap -> one <= 2k-row join."""
    from pyspark_validator.checks.drift import topk_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.filter(F.col("event_id") % 2 == 0)
    c = ev.filter(F.col("event_id") % 2 == 1)
    d = topk_drift(b, c, "event_type", k=4)
    return d.select(
        "k_b",
        "k_c",
        "n_shared",
        _r(F.col("jaccard"), 9).alias("jaccard"),
        _r(F.col("footrule"), 9).alias("footrule"),
        "top1_b",
        "top1_c",
        "top1_same",
        "drift_detected",
    )


SQL_DRIFT_TOPK_EVENTS = """
WITH cb AS (
  SELECT event_type AS val, count(*) AS cnt FROM events
  WHERE event_id % 2 = 0 GROUP BY 1
),
cc AS (
  SELECT event_type AS val, count(*) AS cnt FROM events
  WHERE event_id % 2 = 1 GROUP BY 1
),
tb AS (
  SELECT val, row_number() OVER (ORDER BY cnt DESC, val) AS rank_b
  FROM cb ORDER BY cnt DESC, val LIMIT 4
),
tc AS (
  SELECT val, row_number() OVER (ORDER BY cnt DESC, val) AS rank_c
  FROM cc ORDER BY cnt DESC, val LIMIT 4
),
j AS (SELECT * FROM tb FULL OUTER JOIN tc USING (val)),
agg AS (
  SELECT sum(CASE WHEN rank_b IS NOT NULL THEN 1 ELSE 0 END) AS k_b,
         sum(CASE WHEN rank_c IS NOT NULL THEN 1 ELSE 0 END) AS k_c,
         sum(CASE WHEN rank_b IS NOT NULL AND rank_c IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_shared,
         sum(CASE WHEN rank_b IS NOT NULL AND rank_c IS NOT NULL
                  THEN abs(rank_b - rank_c) ELSE 0 END) AS fr,
         min(CASE WHEN rank_b = 1 THEN val END) AS top1_b,
         min(CASE WHEN rank_c = 1 THEN val END) AS top1_c
  FROM j
)
SELECT CAST(k_b AS BIGINT) AS k_b, CAST(k_c AS BIGINT) AS k_c,
       CAST(n_shared AS BIGINT) AS n_shared,
       round(CASE WHEN k_b + k_c - n_shared > 0
                  THEN n_shared * 1.0 / (k_b + k_c - n_shared)
                  ELSE 1.0 END, 9) AS jaccard,
       round(CASE WHEN n_shared > 0 THEN fr * 1.0 / (n_shared * 3.0) END, 9)
         AS footrule,
       top1_b, top1_c, (top1_b = top1_c) AS top1_same,
       (CASE WHEN k_b + k_c - n_shared > 0
             THEN n_shared * 1.0 / (k_b + k_c - n_shared)
             ELSE 1.0 END < 0.5) AS drift_detected
FROM agg
"""


def q_drift_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift (checks/drift.py::
    embedding_dimension_drift): standardized mean difference per dimension
    between even/odd vec_ids, rolled up to worst/mean SMD -- the axis-level
    companion to drift_embedding_centroid. Shuffle carries dim rows only."""
    from pyspark_validator.checks.drift import embedding_dimension_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = emb.filter(F.col("vec_id") % 2 == 0)
    c = emb.filter(F.col("vec_id") % 2 == 1)
    d = embedding_dimension_drift(b, c, max_smd=0.25)
    return d.select(
        "n_b",
        "n_c",
        "dim",
        _r(F.col("max_smd_value"), 6).alias("max_smd_value"),
        "worst_dim",
        _r(F.col("mean_smd"), 6).alias("mean_smd"),
        "drift_detected",
    )


SQL_DRIFT_EMBEDDING_DIMS = """
WITH ex AS (
  SELECT vec_id % 2 AS side, i - 1 AS idx, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
),
s AS (
  SELECT idx,
         count(*) FILTER (side = 0) AS n_b, sum(v) FILTER (side = 0) AS s_b,
         sum(v * v) FILTER (side = 0) AS ss_b,
         count(*) FILTER (side = 1) AS n_c, sum(v) FILTER (side = 1) AS s_c,
         sum(v * v) FILTER (side = 1) AS ss_c
  FROM ex GROUP BY 1
),
smd AS (
  SELECT idx, n_b, n_c,
         abs(s_b / n_b - s_c / n_c)
         / sqrt(greatest(((ss_b / n_b - (s_b / n_b) * (s_b / n_b))
                        + (ss_c / n_c - (s_c / n_c) * (s_c / n_c))) / 2,
                         1e-24)) AS d
  FROM s WHERE n_b > 0 AND n_c > 0
)
SELECT CAST(max(n_b) AS BIGINT) AS n_b, CAST(max(n_c) AS BIGINT) AS n_c,
       CAST(count(*) AS BIGINT) AS dim,
       round(max(d), 6) AS max_smd_value,
       arg_max(idx, d) AS worst_dim,
       round(avg(d), 6) AS mean_smd,
       (max(d) > 0.25) AS drift_detected
FROM smd
"""


def q_outliers_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier-row gate (checks/outlier.py, Tukey IQR fences, exact
    percentiles in oracle mode): one centers agg, then a scan-speed fence
    filter -- never a join or window."""
    from pyspark_validator.checks.outlier import outlier_check

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = outlier_check(ev, "value", method="iqr").summary()
    return s.select(
        "n",
        "n_outliers",
        _r(F.col("outlier_fraction"), 9).alias("outlier_fraction"),
        _r(F.col("fence_lo"), 6).alias("fence_lo"),
        _r(F.col("fence_hi"), 6).alias("fence_hi"),
        "holds",
    )


SQL_OUTLIERS_EVENTS_VALUE = """
WITH f AS (
  SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
  FROM events
),
fl AS (SELECT q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM f)
SELECT CAST(count(value) AS BIGINT) AS n,
       CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) * 1.0
             / count(value), 9) AS outlier_fraction,
       round(any_value(lo), 6) AS fence_lo,
       round(any_value(hi), 6) AS fence_hi,
       (sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) = 0) AS holds
FROM events, fl
"""


def q_outliers_events_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The worst 5 outlier rows by fence exceedance (row-level verification
    of the fence filter, deterministic tie-break on event_id)."""
    from pyspark_validator.checks.outlier import outlier_check

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = outlier_check(ev, "value", method="iqr").violations(["event_id"], cap=5)
    return v.select(
        "event_id",
        _r(F.col("value"), 6).alias("value"),
        _r(F.col("exceedance"), 6).alias("exceedance"),
    )


SQL_OUTLIERS_EVENTS_ROWS = """
WITH f AS (
  SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
  FROM events
),
fl AS (SELECT q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM f)
SELECT event_id, round(value, 6) AS value,
       round(greatest(lo - value, value - hi), 6) AS exceedance
FROM events, fl
WHERE value < lo OR value > hi
ORDER BY greatest(lo - value, value - hi) DESC, event_id
LIMIT 5
"""


def q_embedding_outliers_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outliers by diagonal Mahalanobis score (checks/
    outlier.py::embedding_outlier_check): per-dim standardization baked into
    a zip_with/aggregate score expression (scan-speed), top-5 via the
    distributed heap. Sanity anchor: the mean score is exactly dim under
    the score's own standardization."""
    from pyspark_validator.checks.outlier import embedding_outlier_check

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t = embedding_outlier_check(emb, top_k=5).top()
    return t.select("id", _r(F.col("score"), 6).alias("score"))


SQL_EMBEDDING_OUTLIERS_TOPK = """
WITH ex AS (
  SELECT vec_id, i - 1 AS idx, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
),
st AS (
  SELECT idx, avg(v) AS m,
         CASE WHEN avg(v * v) - avg(v) * avg(v) > 0
              THEN sqrt(avg(v * v) - avg(v) * avg(v)) ELSE 1.0 END AS s
  FROM ex GROUP BY 1
),
sc AS (
  SELECT vec_id AS id, sum(pow((v - m) / s, 2)) AS score
  FROM ex JOIN st USING (idx) GROUP BY 1
)
SELECT id, round(score, 6) AS score
FROM sc ORDER BY score DESC, id LIMIT 5
"""


def q_change_point_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned CUSUM change-point localization (checks/drift.py::
    change_point_check): a +25 level shift planted on value for
    event_id >= 7000, detected on the event_id axis over 50 fixed-edge bins
    -- the per-bin partial fold keeps the shuffle at num_bins rows and the
    CUSUM window runs over bins, never rows."""
    from pyspark_validator.checks.drift import change_point_check

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").cast("double").alias("t"),
        (
            F.col("value")
            + F.when(F.col("event_id") >= 7000, 25.0).otherwise(0.0)
        ).alias("v"),
    )
    d = change_point_check(
        ev, "t", "v", num_bins=50, bin_edges=(0.0, 10000.0), min_shift_smd=0.3
    )
    return d.select(
        "n",
        "n_bins",
        "change_bin",
        _r(F.col("change_point"), 6).alias("change_point"),
        _r(F.col("change_fraction"), 9).alias("change_fraction"),
        _r(F.col("mean_before"), 6).alias("mean_before"),
        _r(F.col("mean_after"), 6).alias("mean_after"),
        _r(F.col("shift"), 6).alias("shift"),
        _r(F.col("shift_smd"), 6).alias("shift_smd"),
        "detected",
    )


SQL_CHANGE_POINT_EVENTS = """
WITH src AS (
  SELECT CAST(event_id AS DOUBLE) AS t,
         value + CASE WHEN event_id >= 7000 THEN 25.0 ELSE 0.0 END AS v
  FROM events WHERE value IS NOT NULL
),
bins AS (
  SELECT least(greatest(CAST(floor(t / 200.0) AS BIGINT), 0), 49) AS b,
         count(*) AS cnt, sum(v) AS s, sum(v * v) AS ss
  FROM src GROUP BY 1
),
tot AS (SELECT sum(cnt) AS tn, sum(s) AS ts_sum, sum(ss) AS tss FROM bins),
cum AS (
  SELECT b, tn, ts_sum, tss,
         sum(cnt) OVER w AS ck, sum(s) OVER w AS cs
  FROM bins, tot
  WINDOW w AS (ORDER BY b)
),
cu AS (
  SELECT *, cs - ck * (ts_sum / tn) AS cusum FROM cum WHERE ck < tn
),
best AS (SELECT * FROM cu ORDER BY abs(cusum) DESC, b LIMIT 1)
SELECT CAST(tn AS BIGINT) AS n, 50 AS n_bins, CAST(b AS INT) AS change_bin,
       round(0.0 + (b + 1) * 200.0, 6) AS change_point,
       round(ck * 1.0 / tn, 9) AS change_fraction,
       round(cs / ck, 6) AS mean_before,
       round((ts_sum - cs) / (tn - ck), 6) AS mean_after,
       round((ts_sum - cs) / (tn - ck) - cs / ck, 6) AS shift,
       round(abs((ts_sum - cs) / (tn - ck) - cs / ck)
             / sqrt(greatest(tss / tn - (ts_sum / tn) * (ts_sum / tn), 1e-24)),
             6) AS shift_smd,
       (abs((ts_sum - cs) / (tn - ck) - cs / ck)
        / sqrt(greatest(tss / tn - (ts_sum / tn) * (ts_sum / tn), 1e-24))
        > 0.3) AS detected
FROM best
"""


def _customer_nation_graph(spark: SparkSession, sf_dir: str):
    """Property graph over customer/nation: customer vertices keyed by
    c_custkey, nation vertices offset by 10^9, one directed 'in_nation' edge
    per customer. Attribute maps carry the string-cast source columns (the
    graph tier's attrs are string-typed, graph_descriptor.h)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customers = c.select(
        F.col("c_custkey").cast("long").alias("vid"),
        F.col("c_custkey").cast("long").alias("node_id"),
        F.lit("customer").alias("label"),
        F.create_map(
            F.lit("name"), F.col("c_name"),
            F.lit("mktsegment"), F.col("c_mktsegment"),
            F.lit("acctbal"), F.col("c_acctbal").cast("string"),
            F.lit("nationkey"), F.col("c_nationkey").cast("string"),
        ).alias("attrs"),
    )
    nations = n.select(
        (F.col("n_nationkey").cast("long") + F.lit(1000000000)).alias("vid"),
        (F.col("n_nationkey").cast("long") + F.lit(1000000000)).alias(
            "node_id"
        ),
        F.lit("nation").alias("label"),
        F.create_map(
            F.lit("name"), F.col("n_name"),
            F.lit("nationkey"), F.col("n_nationkey").cast("string"),
        ).alias("attrs"),
    )
    vertices = customers.unionByName(nations)
    edges = c.select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey").cast("long") + F.lit(1000000000)).alias("dst"),
        F.lit("in_nation").alias("label"),
    )
    return vertices, edges


def q_gfd_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFD validation (graphs/gfd.py, reference gfd_validator.cpp semantics)
    over the customer/nation property graph: per-GFD violation counts for a
    violated rule (NATION_7 customers must be AUTOMOBILE -- false), a
    vacuously-satisfied rule (no NO_SUCH_NATION vertex), and a
    holds-by-construction rule (both endpoints carry the same nationkey
    attribute). The embedding frame is the gfd.py join chain; the oracle
    replays it as one SQL join per GFD."""
    from pyspark_validator.graphs.gfd import Gfd, gfd_violations
    from pyspark_validator.graphs.io import GraphData, VertexData

    vertices, edges = _customer_nation_graph(spark, sf_dir)
    pattern = GraphData(
        directed=False,
        vertices=[
            VertexData(node_id=0, attrs={"label": "customer"}),
            VertexData(node_id=1, attrs={"label": "nation"}),
        ],
        edges=[(0, 1, "in_nation")],
    )
    gfds = [
        Gfd(pattern, [((1, "name"), (-1, "NATION_7"))],
            [((0, "mktsegment"), (-1, "AUTOMOBILE"))]),
        Gfd(pattern, [((1, "name"), (-1, "NO_SUCH_NATION"))],
            [((0, "mktsegment"), (-1, "BUILDING"))]),
        Gfd(pattern, [], [((0, "nationkey"), (1, "nationkey"))]),
    ]
    out = None
    for i, gfd in enumerate(gfds):
        row = gfd_violations(vertices, edges, gfd).agg(
            F.count(F.lit(1)).alias("violations")
        ).select(
            F.lit(i).alias("gfd_index"),
            F.col("violations"),
            (F.col("violations") == 0).cast("int").alias("satisfied_flag"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("gfd_index")


SQL_GFD_CUSTOMER_NATION = """
WITH emb AS (
  SELECT c.c_mktsegment, c.c_nationkey AS ck, n.n_name, n.n_nationkey AS nk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
v AS (
  SELECT 0 AS gfd_index,
         COUNT(*) FILTER (WHERE n_name = 'NATION_7'
                          AND c_mktsegment <> 'AUTOMOBILE') AS violations
  FROM emb
  UNION ALL
  SELECT 1, COUNT(*) FILTER (WHERE n_name = 'NO_SUCH_NATION'
                             AND c_mktsegment <> 'BUILDING')
  FROM emb
  UNION ALL
  SELECT 2, COUNT(*) FILTER (WHERE CAST(ck AS VARCHAR) <> CAST(nk AS VARCHAR))
  FROM emb
)
SELECT gfd_index, CAST(violations AS BIGINT) AS violations,
       CAST(violations = 0 AS INT) AS satisfied_flag
FROM v ORDER BY gfd_index
"""


def q_gfd_docs_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFD validation over the INPUT-HINT table's own shape: the bipartite
    doc->media graph implied by the interleaved span derivation (an image
    chunk i of doc d exists when (d+i) %% 7 == 0 and references media
    (d*31+i) %% 100000 -- the exact _docs_spans media_ref rule). Three GFDs:
    'en docs only use even-bucket media' (violated), a vacuous premise
    (lang zz), and 'every used media is an image' (holds over every
    embedding). Each (doc, media) edge is a distinct embedding (refs are
    distinct within a doc), so the oracle counts the span rule in SQL."""
    from pyspark_validator.graphs.gfd import Gfd, gfd_violations
    from pyspark_validator.graphs.io import GraphData, VertexData

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_chunks = F.greatest(
        F.ceil(F.length("text") / F.lit(64.0)).cast("int"), F.lit(1)
    )
    pairs = (
        d.select(
            F.col("doc_id").alias("did"),
            "lang",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
        )
        .filter((F.col("did") + F.col("i")) % 7 == 0)
        .select(
            "did",
            "lang",
            ((F.col("did") * 31 + F.col("i")) % 100000).alias("ref_num"),
        )
    )
    doc_vertices = d.select(
        F.col("doc_id").alias("vid"),
        F.col("doc_id").alias("node_id"),
        F.lit("doc").alias("label"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("attrs"),
    )
    media_vertices = (
        pairs.select("ref_num")
        .distinct()
        .select(
            (F.col("ref_num") + F.lit(1000000000)).alias("vid"),
            (F.col("ref_num") + F.lit(1000000000)).alias("node_id"),
            F.lit("media").alias("label"),
            F.create_map(
                F.lit("kind"), F.lit("image"),
                F.lit("bucket"), (F.col("ref_num") % 2).cast("string"),
            ).alias("attrs"),
        )
    )
    vertices = doc_vertices.unionByName(media_vertices)
    edges = pairs.select(
        F.col("did").alias("src"),
        (F.col("ref_num") + F.lit(1000000000)).alias("dst"),
        F.lit("uses").alias("label"),
    )
    pattern = GraphData(
        directed=False,
        vertices=[
            VertexData(node_id=0, attrs={"label": "doc"}),
            VertexData(node_id=1, attrs={"label": "media"}),
        ],
        edges=[(0, 1, "uses")],
    )
    gfds = [
        Gfd(pattern, [((0, "lang"), (-1, "en"))],
            [((1, "bucket"), (-1, "0"))]),
        Gfd(pattern, [((0, "lang"), (-1, "zz"))],
            [((1, "bucket"), (-1, "0"))]),
        Gfd(pattern, [], [((1, "kind"), (-1, "image"))]),
    ]
    out = None
    for i, gfd in enumerate(gfds):
        row = gfd_violations(vertices, edges, gfd).agg(
            F.count(F.lit(1)).alias("violations")
        ).select(
            F.lit(i).alias("gfd_index"),
            F.col("violations"),
            (F.col("violations") == 0).cast("int").alias("satisfied_flag"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("gfd_index")


SQL_GFD_DOCS_MEDIA = """
WITH pairs AS (
  SELECT d.doc_id AS did, d.lang,
         (d.doc_id * 31 + i) % 100000 AS ref_num
  FROM documents d
  CROSS JOIN UNNEST(range(0,
      greatest(CAST(ceil(length(d.text) / 64.0) AS INT), 1))) AS t(i)
  WHERE (d.doc_id + i) % 7 = 0
),
v AS (
  SELECT 0 AS gfd_index,
         COUNT(*) FILTER (WHERE lang = 'en' AND ref_num % 2 <> 0)
           AS violations
  FROM pairs
  UNION ALL
  SELECT 1, COUNT(*) FILTER (WHERE lang = 'zz' AND ref_num % 2 <> 0)
  FROM pairs
  UNION ALL
  SELECT 2, 0 FROM (SELECT 1)
)
SELECT gfd_index, CAST(violations AS BIGINT) AS violations,
       CAST(violations = 0 AS INT) AS satisfied_flag
FROM v ORDER BY gfd_index
"""


def q_gdd_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDD validation (graphs/gdd.py, reference gdd.cpp semantics) over the
    directed customer->nation graph: an abs-diff balance constraint gated by
    an eq-with-epsilon nationkey LHS (counterexamples = NATION_3 customers
    with |acctbal| > 5000), and a relation constraint (every NATION_7
    customer's in_nation edge ends at vertex id 10^9+7 -- holds). Output:
    per-GDD counterexample counts + holds flag."""
    from pyspark_validator.graphs.gdd import (
        AttrToken,
        Gdd,
        GddConstraint,
        RelToken,
        gdd_violations,
    )
    from pyspark_validator.graphs.io import GraphData, VertexData

    vertices, edges = _customer_nation_graph(spark, sf_dir)
    pattern = GraphData(
        directed=True,
        vertices=[
            VertexData(node_id=0, attrs={"label": "customer"}),
            VertexData(node_id=1, attrs={"label": "nation"}),
        ],
        edges=[(0, 1, "in_nation")],
    )
    gdds = [
        Gdd(
            pattern,
            [GddConstraint(AttrToken(1, "nationkey"), 3, 0.0, "abs_diff", "eq")],
            [GddConstraint(AttrToken(0, "acctbal"), 0.0, 5000.0, "abs_diff", "le")],
        ),
        Gdd(
            pattern,
            [GddConstraint(AttrToken(1, "nationkey"), 7, 0.0, "abs_diff", "eq")],
            [GddConstraint(RelToken(0, "in_nation"), 1000000007, 0.0, "abs_diff", "eq")],
        ),
    ]
    out = None
    for i, gdd in enumerate(gdds):
        row = gdd_violations(vertices, edges, gdd).agg(
            F.count(F.lit(1)).alias("counterexamples")
        ).select(
            F.lit(i).alias("gdd_index"),
            F.col("counterexamples"),
            (F.col("counterexamples") == 0).cast("int").alias("holds_flag"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("gdd_index")


SQL_GDD_CUSTOMER_NATION = """
WITH emb AS (
  SELECT c.c_acctbal, n.n_nationkey
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
v AS (
  SELECT 0 AS gdd_index,
         COUNT(*) FILTER (WHERE n_nationkey = 3
                          AND NOT abs(c_acctbal - 0.0) <= 5000.0)
           AS counterexamples
  FROM emb
  UNION ALL
  -- every matched NATION_7 customer's lone in_nation edge ends at 10^9+7
  SELECT 1, 0 FROM (SELECT 1)
)
SELECT gdd_index, CAST(counterexamples AS BIGINT) AS counterexamples,
       CAST(counterexamples = 0 AS INT) AS holds_flag
FROM v ORDER BY gdd_index
"""


def q_gspan_orders_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gSpan seed census (graphs/gspan.py::gspan_edge_supports -- the
    empty-DFS-code extension stage of gspan.cpp EnumerateRightMostExtensions)
    over a transactional graph database derived from orders: one transaction
    per customer, one edge per order between the status-code vertex (O=0,
    F=1, P=2) and the priority-digit vertex (+10), edge label =
    order-year mod 3. Support = distinct transactions containing the
    normalized single-edge pattern; the oracle replays the least/greatest
    normalization in SQL."""
    from pyspark_validator.graphs.gspan import gspan_edge_supports

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edge_rows = o.select(
        F.col("o_custkey").alias("graph_id"),
        F.when(F.col("o_orderstatus") == "O", 0)
        .when(F.col("o_orderstatus") == "F", 1)
        .otherwise(2)
        .cast("long")
        .alias("src_label"),
        (F.substring("o_orderpriority", 1, 1).cast("long") + 10).alias(
            "dst_label"
        ),
        (F.year(F.col("o_orderdate").cast("timestamp")) % 3)
        .cast("long")
        .alias("edge_label"),
    )
    return (
        gspan_edge_supports(edge_rows)
        .orderBy("v1_label", "v2_label", "edge_label")
    )


SQL_GSPAN_ORDERS_SEEDS = """
WITH edge_rows AS (
  SELECT o_custkey AS graph_id,
         CAST(CASE o_orderstatus WHEN 'O' THEN 0 WHEN 'F' THEN 1
              ELSE 2 END AS BIGINT) AS src_label,
         CAST(CAST(substr(o_orderpriority, 1, 1) AS INT) + 10 AS BIGINT)
           AS dst_label,
         CAST(year(o_orderdate) % 3 AS BIGINT) AS edge_label
  FROM orders
)
SELECT least(src_label, dst_label) AS v1_label,
       greatest(src_label, dst_label) AS v2_label,
       edge_label,
       CAST(COUNT(DISTINCT graph_id) AS BIGINT) AS support
FROM edge_rows
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_maxfem_events_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-episode support census (graphs/maxfem.py::
    parallel_episode_supports -- the location-list intersections of
    parallel_episode.cpp, pair-sized slice) over the events table: event
    sets = hour buckets, events = first-letter codes of event_type.
    Singletons carry event_b = -1; min_support 600 of 720 buckets keeps the
    result discriminating. The oracle replays the census as a dedup + self
    join."""
    from pyspark_validator.graphs.maxfem import parallel_episode_supports

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = e.select(
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3600000000)
        ).alias("bucket"),
        F.ascii(F.substring("event_type", 1, 1)).cast("long").alias("event"),
    )
    out = parallel_episode_supports(
        df, ts_col="bucket", event_col="event", min_support=600
    )
    return out.select(
        "event_a",
        F.coalesce("event_b", F.lit(-1)).alias("event_b"),
        "support",
    ).orderBy("event_a", "event_b")


SQL_MAXFEM_EVENTS_PAIRS = """
WITH be AS (
  SELECT DISTINCT floor(epoch_us(ts) / 3600000000) AS b,
         CAST(ascii(substr(event_type, 1, 1)) AS BIGINT) AS e
  FROM events
),
census AS (
  SELECT e AS event_a, CAST(-1 AS BIGINT) AS event_b,
         COUNT(*) AS support
  FROM be GROUP BY e
  UNION ALL
  SELECT a.e, b.e, COUNT(*)
  FROM be a JOIN be b ON a.b = b.b AND a.e < b.e
  GROUP BY a.e, b.e
)
SELECT event_a, event_b, CAST(support AS BIGINT) AS support
FROM census WHERE support >= 600
ORDER BY event_a, event_b
"""


def _query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All contract queries in build (registration) order."""
    return {
        "ucc_lineitem_pk": q_ucc_lineitem_pk,
        "ucc_violations_orders": q_ucc_violations_orders,
        "ucc_docs_doc_id": q_ucc_docs_doc_id,
        "fd_docs_span_seq": q_fd_docs_span_seq,
        "fd_holds_nation": q_fd_holds_nation,
        "fd_highlights_orders": q_fd_highlights_orders,
        "afd_measures_orders": q_afd_measures_orders,
        "pfd_lineitem": q_pfd_lineitem,
        "ind_orders_customer": q_ind_orders_customer,
        "ind_violations_customer_orders": q_ind_violations_customer_orders,
        "ind_binary_nation_region": q_ind_binary_nation_region,
        "nd_orders": q_nd_orders,
        "stats_numeric_lineitem": q_stats_numeric_lineitem,
        "stats_string_customer": q_stats_string_customer,
        "stats_string_extras": q_stats_string_extras,
        "stats_char_customer": q_stats_char_customer,
        "topk_event_types": q_topk_event_types,
        "entropy_gini_events": q_entropy_gini_events,
        "monotonic_events_ts": q_monotonic_events_ts,
        "sessionize_events": q_sessionize_events,
        "drift_categorical_events": q_drift_categorical_events,
        "drift_numeric_events": q_drift_numeric_events,
        "drift_numeric_by_type": q_drift_numeric_by_type,
        "drift_docs_kind": q_drift_docs_kind,
        "text_token_counts": q_text_token_counts,
        "text_language_id": q_text_language_id,
        "text_quality": q_text_quality,
        "text_lm_quality": q_text_lm_quality,
        "containment_planted": q_containment_planted,
        "dedup_exact_planted": q_dedup_exact_planted,
        "dedup_snm_docs": q_dedup_snm_docs,
        "dedup_keep_one": q_dedup_keep_one,
        "cc_clusters_planted": q_cc_clusters_planted,
        "cc_keep_best_planted": q_cc_keep_best_planted,
        "ngram_jaccard_planted": q_ngram_jaccard_planted,
        "prefix_jaccard_planted": q_prefix_jaccard_planted,
        "minhash_lsh_planted": q_minhash_lsh_planted,
        "dedup_delta_minhash": q_dedup_delta_minhash,
        "simhash_planted": q_simhash_planted,
        "similarity_brute_topk": q_similarity_brute_topk,
        "similarity_ivf_topk": q_similarity_ivf_topk,
        "embedding_cosine_dups": q_embedding_cosine_dups,
        "knn_join_embeddings": q_knn_join_embeddings,
        "embedding_conformance_planted": q_embedding_conformance_planted,
        "embedding_violations_planted": q_embedding_violations_planted,
        "stats_deviation_lineitem": q_stats_deviation_lineitem,
        "pac_events_value": q_pac_events_value,
        "mfd_quantity_orderkey": q_mfd_quantity_orderkey,
        "mfd_levenshtein_nation": q_mfd_levenshtein_nation,
        "sd_events_gap": q_sd_events_gap,
        "aod_ofd_orders": q_aod_ofd_orders,
        "aod_removal_rows_orders": q_aod_removal_rows_orders,
        "aod_oc_orders": q_aod_oc_orders,
        "cfd_orders_priority": q_cfd_orders_priority,
        "ar_events_click_view": q_ar_events_click_view,
        "dd_part_price_size": q_dd_part_price_size,
        "dc_orders_price_inversion": q_dc_orders_price_inversion,
        "cind_orders_customer_open": q_cind_orders_customer_open,
        "md_nation_name": q_md_nation_name,
        "md_orders_customer": q_md_orders_customer,
        "incremental_ucc_delta": q_incremental_ucc_delta,
        "discovery_unary_fds_nation": q_discovery_unary_fds_nation,
        "ac_ranges_lineitem": q_ac_ranges_lineitem,
        "ac_exceptions_lineitem": q_ac_exceptions_lineitem,
        "nar_orders_priority": q_nar_orders_priority,
        "fused_suite_orders": q_fused_suite_orders,
        "fused_distinct_customer": q_fused_distinct_customer,
        "incremental_fused_delta": q_incremental_fused_delta,
        "sfd_orders_priority_status": q_sfd_orders_priority_status,
        "text_line_filter": q_text_line_filter,
        "text_repetition_docs": q_text_repetition_docs,
        "text_pii_planted": q_text_pii_planted,
        "semantic_dedup_planted": q_semantic_dedup_planted,
        "schema_verdict_docs": q_schema_verdict_docs,
        "span_integrity_planted": q_span_integrity_planted,
        "type_conformance_lang": q_type_conformance_lang,
        "media_ref_integrity_planted": q_media_ref_integrity_planted,
        "sketch_profile_lineitem": q_sketch_profile_lineitem,
        "media_conformance_planted": q_media_conformance_planted,
        "curation_hash_split_docs": q_curation_hash_split_docs,
        "curation_mixture_docs": q_curation_mixture_docs,
        "curation_decontam_planted": q_curation_decontam_planted,
        "curation_contam_fraction": q_curation_contam_fraction,
        "curation_chunk_docs": q_curation_chunk_docs,
        "curation_dsir_docs": q_curation_dsir_docs,
        "dedup_lines_docs": q_dedup_lines_docs,
        "dedup_delta_bloom_docs": q_dedup_delta_bloom_docs,
        "semantic_dedup_ivf_planted": q_semantic_dedup_ivf_planted,
        "curation_shuffle_shards": q_curation_shuffle_shards,
        "retrieval_bm25_docs": q_retrieval_bm25_docs,
        "retrieval_rrf_docs": q_retrieval_rrf_docs,
        "span_transitions_docs": q_span_transitions_docs,
        "media_census_docs": q_media_census_docs,
        "spans_flatten_docs": q_spans_flatten_docs,
        "spans_flatten_sentinels": q_spans_flatten_sentinels,
        "span_structure_drift_docs": q_span_structure_drift_docs,
        "curation_temperature_docs": q_curation_temperature_docs,
        "curation_token_budget_docs": q_curation_token_budget_docs,
        "drift_embedding_centroid": q_drift_embedding_centroid,
        "dedup_spans_boilerplate_docs": q_dedup_spans_boilerplate_docs,
        "dedup_layout_docs": q_dedup_layout_docs,
        "layout_diversity_docs": q_layout_diversity_docs,
        "drift_layout_docs": q_drift_layout_docs,
        "media_context_docs": q_media_context_docs,
        "drift_media_census_docs": q_drift_media_census_docs,
        "media_context_census_docs": q_media_context_census_docs,
        "caption_pairs_docs": q_caption_pairs_docs,
        "normalize_interleaved_docs": q_normalize_interleaved_docs,
        "interleaved_quality_docs": q_interleaved_quality_docs,
        "interleaved_token_costs": q_interleaved_token_costs,
        "interleaved_chunk_docs": q_interleaved_chunk_docs,
        "curation_split_leakage": q_curation_split_leakage,
        "curation_chunk_manifest": q_curation_chunk_manifest,
        "dedup_dup_spans_docs": q_dedup_dup_spans_docs,
        "dedup_dup_span_stats_docs": q_dedup_dup_span_stats_docs,
        "dedup_delta_dup_spans_docs": q_dedup_delta_dup_spans_docs,
        "curation_decontam_fuzzy": q_curation_decontam_fuzzy,
        "curation_decontam_semantic": q_curation_decontam_semantic,
        "curation_pack_docs": q_curation_pack_docs,
        "curation_domain_cap_docs": q_curation_domain_cap_docs,
        "discovery_unary_inds_keys": q_discovery_unary_inds_keys,
        "discovery_fds_orders": q_discovery_fds_orders,
        "discovery_afds_orders": q_discovery_afds_orders,
        "discovery_ainds_keys": q_discovery_ainds_keys,
        "discovery_uccs_lineitem": q_discovery_uccs_lineitem,
        "discovery_binary_inds_keys": q_discovery_binary_inds_keys,
        "discovery_ars_events": q_discovery_ars_events,
        "discovery_cfds_orders": q_discovery_cfds_orders,
        "discovery_ods_lineitem": q_discovery_ods_lineitem,
        "discovery_pfds_orders": q_discovery_pfds_orders,
        "discovery_afds_tane_orders": q_discovery_afds_tane_orders,
        "discovery_dds_lineitem": q_discovery_dds_lineitem,
        "discovery_mds_orders": q_discovery_mds_orders,
        "discovery_list_ods_orders": q_discovery_list_ods_orders,
        "discovery_cinds_orders": q_discovery_cinds_orders,
        "discovery_nary_inds_orders": q_discovery_nary_inds_orders,
        "kanon_customer": q_kanon_customer,
        "benford_lineitem": q_benford_lineitem,
        "assoc_orders": q_assoc_orders,
        "drift_js_events": q_drift_js_events,
        "drift_wasserstein_events": q_drift_wasserstein_events,
        "zipf_docs": q_zipf_docs,
        "format_conformance_customer": q_format_conformance_customer,
        "format_profile_part": q_format_profile_part,
        "null_patterns_events": q_null_patterns_events,
        "drift_vocab_docs": q_drift_vocab_docs,
        "precedence_events": q_precedence_events,
        "interval_overlap_orders": q_interval_overlap_orders,
        "reconcile_orders_lineitem": q_reconcile_orders_lineitem,
        "class_balance_events": q_class_balance_events,
        "caption_consistency_docs": q_caption_consistency_docs,
        "drift_topk_events": q_drift_topk_events,
        "drift_embedding_dims": q_drift_embedding_dims,
        "outliers_events_value": q_outliers_events_value,
        "outliers_events_rows": q_outliers_events_rows,
        "embedding_outliers_topk": q_embedding_outliers_topk,
        "change_point_events": q_change_point_events,
        "gfd_customer_nation": q_gfd_customer_nation,
        "gfd_docs_media": q_gfd_docs_media,
        "gdd_customer_nation": q_gdd_customer_nation,
        "gspan_orders_seeds": q_gspan_orders_seeds,
        "maxfem_events_pairs": q_maxfem_events_pairs,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _query_fns()


def oracle_sql() -> dict[str, str]:
    return {
        "ucc_lineitem_pk": SQL_UCC_LINEITEM_PK,
        "ucc_violations_orders": SQL_UCC_VIOLATIONS_ORDERS,
        "ucc_docs_doc_id": SQL_UCC_DOCS_DOC_ID,
        "fd_docs_span_seq": SQL_FD_DOCS_SPAN_SEQ,
        "fd_holds_nation": SQL_FD_HOLDS_NATION,
        "fd_highlights_orders": SQL_FD_HIGHLIGHTS_ORDERS,
        "afd_measures_orders": SQL_AFD_MEASURES_ORDERS,
        "pfd_lineitem": SQL_PFD_LINEITEM,
        "ind_orders_customer": SQL_IND_ORDERS_CUSTOMER,
        "ind_violations_customer_orders": SQL_IND_VIOLATIONS_CUSTOMER_ORDERS,
        "ind_binary_nation_region": SQL_IND_BINARY_NATION_REGION,
        "nd_orders": SQL_ND_ORDERS,
        "stats_numeric_lineitem": SQL_STATS_NUMERIC_LINEITEM,
        "stats_string_customer": SQL_STATS_STRING_CUSTOMER,
        "stats_string_extras": SQL_STATS_STRING_EXTRAS,
        "stats_char_customer": SQL_STATS_CHAR_CUSTOMER,
        "topk_event_types": SQL_TOPK_EVENT_TYPES,
        "entropy_gini_events": SQL_ENTROPY_GINI_EVENTS,
        "monotonic_events_ts": SQL_MONOTONIC_EVENTS_TS,
        "sessionize_events": SQL_SESSIONIZE_EVENTS,
        "drift_categorical_events": SQL_DRIFT_CATEGORICAL_EVENTS,
        "drift_numeric_events": SQL_DRIFT_NUMERIC_EVENTS,
        "drift_numeric_by_type": SQL_DRIFT_NUMERIC_BY_TYPE,
        "drift_docs_kind": SQL_DRIFT_DOCS_KIND,
        "text_token_counts": SQL_TEXT_TOKEN_COUNTS,
        "text_language_id": SQL_TEXT_LANGUAGE_ID,
        "text_quality": SQL_TEXT_QUALITY,
        "text_lm_quality": SQL_TEXT_LM_QUALITY,
        "containment_planted": SQL_CONTAINMENT_PLANTED,
        "dedup_exact_planted": SQL_DEDUP_EXACT_PLANTED,
        "dedup_snm_docs": SQL_DEDUP_SNM_DOCS,
        "dedup_keep_one": SQL_DEDUP_KEEP_ONE,
        "cc_clusters_planted": SQL_CC_CLUSTERS_PLANTED,
        "cc_keep_best_planted": SQL_CC_KEEP_BEST_PLANTED,
        "ngram_jaccard_planted": SQL_NGRAM_JACCARD_PLANTED,
        "prefix_jaccard_planted": SQL_NGRAM_JACCARD_PLANTED,
        # verify=True restricts LSH candidates to true jaccard >= 0.9, and
        # banding recall over the planted dups is total -> the exhaustive
        # n-gram Jaccard SQL is an exact oracle for the LSH pipeline too.
        "minhash_lsh_planted": SQL_NGRAM_JACCARD_PLANTED,
        "dedup_delta_minhash": SQL_DEDUP_DELTA_MINHASH,
        "simhash_planted": SQL_SIMHASH_PLANTED,
        "embedding_cosine_dups": SQL_EMBEDDING_COSINE_DUPS,
        "knn_join_embeddings": SQL_KNN_JOIN_EMBEDDINGS,
        "embedding_conformance_planted": SQL_EMBEDDING_CONFORMANCE_PLANTED,
        "embedding_violations_planted": SQL_EMBEDDING_VIOLATIONS_PLANTED,
        "similarity_brute_topk": SQL_SIMILARITY_BRUTE_TOPK,
        # full probe (nprobe = n_lists) makes IVF exact -> brute-force SQL
        # is the oracle; pruned-nprobe recall is pytest-covered.
        "similarity_ivf_topk": SQL_SIMILARITY_BRUTE_TOPK,
        "stats_deviation_lineitem": SQL_STATS_DEVIATION_LINEITEM,
        "pac_events_value": SQL_PAC_EVENTS_VALUE,
        "mfd_quantity_orderkey": SQL_MFD_QUANTITY_ORDERKEY,
        "mfd_levenshtein_nation": SQL_MFD_LEVENSHTEIN_NATION,
        "sd_events_gap": SQL_SD_EVENTS_GAP,
        "aod_ofd_orders": SQL_AOD_OFD_ORDERS,
        "aod_oc_orders": SQL_AOD_OC_ORDERS,
        "aod_removal_rows_orders": SQL_AOD_REMOVAL_ROWS_ORDERS,
        # aod_oc_orders: no oracle (per-group LNDS is not SQL-expressible) ->
        # rows-only driver check; the OFD variant above is value-checked.
        "cfd_orders_priority": SQL_CFD_ORDERS_PRIORITY,
        "ar_events_click_view": SQL_AR_EVENTS_CLICK_VIEW,
        "dd_part_price_size": SQL_DD_PART_PRICE_SIZE,
        "dc_orders_price_inversion": SQL_DC_ORDERS_PRICE_INVERSION,
        "cind_orders_customer_open": SQL_CIND_ORDERS_CUSTOMER_OPEN,
        "md_nation_name": SQL_MD_NATION_NAME,
        "md_orders_customer": SQL_MD_ORDERS_CUSTOMER,
        "incremental_ucc_delta": SQL_INCREMENTAL_UCC_DELTA,
        "discovery_unary_fds_nation": SQL_DISCOVERY_UNARY_FDS_NATION,
        "ac_ranges_lineitem": SQL_AC_RANGES_LINEITEM,
        "ac_exceptions_lineitem": SQL_AC_EXCEPTIONS_LINEITEM,
        "nar_orders_priority": SQL_NAR_ORDERS_PRIORITY,
        "fused_suite_orders": SQL_FUSED_SUITE_ORDERS,
        "fused_distinct_customer": SQL_FUSED_DISTINCT_CUSTOMER,
        "incremental_fused_delta": SQL_INCREMENTAL_FUSED_DELTA,
        "sfd_orders_priority_status": SQL_SFD_ORDERS_PRIORITY_STATUS,
        "text_line_filter": SQL_TEXT_LINE_FILTER,
        "text_repetition_docs": SQL_TEXT_REPETITION_DOCS,
        "text_pii_planted": SQL_TEXT_PII_PLANTED,
        "semantic_dedup_planted": SQL_SEMANTIC_DEDUP_PLANTED,
        "schema_verdict_docs": SQL_SCHEMA_VERDICT_DOCS,
        "span_integrity_planted": SQL_SPAN_INTEGRITY_PLANTED,
        "type_conformance_lang": SQL_TYPE_CONFORMANCE_LANG,
        "media_ref_integrity_planted": SQL_MEDIA_REF_INTEGRITY_PLANTED,
        "sketch_profile_lineitem": SQL_SKETCH_PROFILE_LINEITEM,
        "media_conformance_planted": SQL_MEDIA_CONFORMANCE_PLANTED,
        "curation_hash_split_docs": SQL_CURATION_HASH_SPLIT_DOCS,
        "curation_mixture_docs": SQL_CURATION_MIXTURE_DOCS,
        "curation_decontam_planted": SQL_CURATION_DECONTAM_PLANTED,
        "curation_contam_fraction": SQL_CURATION_CONTAM_FRACTION,
        "curation_chunk_docs": SQL_CURATION_CHUNK_DOCS,
        "curation_dsir_docs": SQL_CURATION_DSIR_DOCS,
        "dedup_lines_docs": SQL_DEDUP_LINES_DOCS,
        "dedup_delta_bloom_docs": SQL_DEDUP_DELTA_BLOOM_DOCS,
        "semantic_dedup_ivf_planted": SQL_SEMANTIC_DEDUP_IVF_PLANTED,
        "curation_shuffle_shards": SQL_CURATION_SHUFFLE_SHARDS,
        "retrieval_bm25_docs": SQL_RETRIEVAL_BM25_DOCS,
        "retrieval_rrf_docs": SQL_RETRIEVAL_RRF_DOCS,
        "span_transitions_docs": SQL_SPAN_TRANSITIONS_DOCS,
        "media_census_docs": SQL_MEDIA_CENSUS_DOCS,
        "spans_flatten_docs": SQL_SPANS_FLATTEN_DOCS,
        "spans_flatten_sentinels": SQL_SPANS_FLATTEN_SENTINELS,
        "span_structure_drift_docs": SQL_SPAN_STRUCTURE_DRIFT_DOCS,
        "curation_temperature_docs": SQL_CURATION_TEMPERATURE_DOCS,
        "curation_token_budget_docs": SQL_CURATION_TOKEN_BUDGET_DOCS,
        "drift_embedding_centroid": SQL_DRIFT_EMBEDDING_CENTROID,
        "dedup_spans_boilerplate_docs": SQL_DEDUP_SPANS_BOILERPLATE_DOCS,
        "dedup_layout_docs": SQL_DEDUP_LAYOUT_DOCS,
        "layout_diversity_docs": SQL_LAYOUT_DIVERSITY_DOCS,
        "drift_layout_docs": SQL_DRIFT_LAYOUT_DOCS,
        "media_context_docs": SQL_MEDIA_CONTEXT_DOCS,
        "drift_media_census_docs": SQL_DRIFT_MEDIA_CENSUS_DOCS,
        "media_context_census_docs": SQL_MEDIA_CONTEXT_CENSUS_DOCS,
        "caption_pairs_docs": SQL_CAPTION_PAIRS_DOCS,
        "normalize_interleaved_docs": SQL_NORMALIZE_INTERLEAVED_DOCS,
        "interleaved_quality_docs": SQL_INTERLEAVED_QUALITY_DOCS,
        "interleaved_token_costs": SQL_INTERLEAVED_TOKEN_COSTS,
        "interleaved_chunk_docs": SQL_INTERLEAVED_CHUNK_DOCS,
        "curation_split_leakage": SQL_CURATION_SPLIT_LEAKAGE,
        "curation_chunk_manifest": SQL_CURATION_CHUNK_MANIFEST,
        "dedup_dup_spans_docs": SQL_DEDUP_DUP_SPANS_DOCS,
        "dedup_dup_span_stats_docs": SQL_DEDUP_DUP_SPAN_STATS_DOCS,
        "dedup_delta_dup_spans_docs": SQL_DEDUP_DELTA_DUP_SPANS_DOCS,
        "curation_decontam_fuzzy": SQL_CURATION_DECONTAM_FUZZY,
        "curation_decontam_semantic": SQL_CURATION_DECONTAM_SEMANTIC,
        "curation_pack_docs": SQL_CURATION_PACK_DOCS,
        "curation_domain_cap_docs": SQL_CURATION_DOMAIN_CAP_DOCS,
        "discovery_unary_inds_keys": SQL_DISCOVERY_UNARY_INDS_KEYS,
        "discovery_fds_orders": SQL_DISCOVERY_FDS_ORDERS,
        "discovery_afds_orders": SQL_DISCOVERY_AFDS_ORDERS,
        "discovery_ainds_keys": SQL_DISCOVERY_AINDS_KEYS,
        "discovery_uccs_lineitem": SQL_DISCOVERY_UCCS_LINEITEM,
        "discovery_binary_inds_keys": SQL_DISCOVERY_BINARY_INDS_KEYS,
        "discovery_ars_events": SQL_DISCOVERY_ARS_EVENTS,
        "discovery_cfds_orders": SQL_DISCOVERY_CFDS_ORDERS,
        "discovery_ods_lineitem": SQL_DISCOVERY_ODS_LINEITEM,
        "discovery_pfds_orders": SQL_DISCOVERY_PFDS_ORDERS,
        "discovery_afds_tane_orders": SQL_DISCOVERY_AFDS_TANE_ORDERS,
        "discovery_dds_lineitem": SQL_DISCOVERY_DDS_LINEITEM,
        "discovery_mds_orders": SQL_DISCOVERY_MDS_ORDERS,
        "discovery_list_ods_orders": SQL_DISCOVERY_LIST_ODS_ORDERS,
        "discovery_cinds_orders": SQL_DISCOVERY_CINDS_ORDERS,
        "discovery_nary_inds_orders": SQL_DISCOVERY_NARY_INDS_ORDERS,
        "kanon_customer": SQL_KANON_CUSTOMER,
        "benford_lineitem": SQL_BENFORD_LINEITEM,
        "assoc_orders": SQL_ASSOC_ORDERS,
        "drift_js_events": SQL_DRIFT_JS_EVENTS,
        "drift_wasserstein_events": SQL_DRIFT_WASSERSTEIN_EVENTS,
        "zipf_docs": SQL_ZIPF_DOCS,
        "format_conformance_customer": SQL_FORMAT_CONFORMANCE_CUSTOMER,
        "format_profile_part": SQL_FORMAT_PROFILE_PART,
        "null_patterns_events": SQL_NULL_PATTERNS_EVENTS,
        "drift_vocab_docs": SQL_DRIFT_VOCAB_DOCS,
        "precedence_events": SQL_PRECEDENCE_EVENTS,
        "interval_overlap_orders": SQL_INTERVAL_OVERLAP_ORDERS,
        "reconcile_orders_lineitem": SQL_RECONCILE_ORDERS_LINEITEM,
        "class_balance_events": SQL_CLASS_BALANCE_EVENTS,
        "caption_consistency_docs": SQL_CAPTION_CONSISTENCY_DOCS,
        "drift_topk_events": SQL_DRIFT_TOPK_EVENTS,
        "drift_embedding_dims": SQL_DRIFT_EMBEDDING_DIMS,
        "outliers_events_value": SQL_OUTLIERS_EVENTS_VALUE,
        "outliers_events_rows": SQL_OUTLIERS_EVENTS_ROWS,
        "embedding_outliers_topk": SQL_EMBEDDING_OUTLIERS_TOPK,
        "change_point_events": SQL_CHANGE_POINT_EVENTS,
        "gfd_customer_nation": SQL_GFD_CUSTOMER_NATION,
        "gfd_docs_media": SQL_GFD_DOCS_MEDIA,
        "gdd_customer_nation": SQL_GDD_CUSTOMER_NATION,
        "gspan_orders_seeds": SQL_GSPAN_ORDERS_SEEDS,
        "maxfem_events_pairs": SQL_MAXFEM_EVENTS_PAIRS,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-partition UCC verdicts over the interleaved-doc view at
    sf0.001 (the north-rule check shape: partitioned uniqueness validation with
    planted duplicates)."""
    from pyspark_validator.checks.ucc import ucc_check

    ds = _docs_spans(spark, "/root/testdata/sf0.001")
    return (
        ucc_check(ds, ["doc_id"], num_partitions=16, partition_key="doc_id")
        .verdicts()
        .orderBy("partition_id")
    )
