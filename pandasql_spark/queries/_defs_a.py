"""Registry definitions, part A: relational core, dedup families,
streaming windows, I/O round-trips (q01-q25 birth cohort and their
round-4/5 neighbors).

Split mechanically by file position from the original single-module
registry (rounds 1-5); the canonical REGISTRY order, the gate roster
(_RESTING), and the rotation assertions live in queries/__init__.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import pandasql_spark as ps
from pandasql_spark.functions import similarity, text
from pandasql_spark.session import ensure_semantics

from ._shared import QueryDef, _t, load_events
from ._shared import _codec_corpus  # noqa: F401



def q01_pricing_summary(spark: SparkSession, sf: str) -> SparkDataFrame:
    """TPC-H Q1: filter → derived column → groupby multi-agg.
    Operators: Selection, __setitem__/Arithmetic, GroupBy named agg
    (reference core.py:799-815, 545-578, 1003-1067)."""
    li = _t(spark, sf, "lineitem")
    flt = li[li["l_shipdate"] <= "2000-01-01"]
    flt["revenue"] = flt["l_extendedprice"] * (1 - flt["l_discount"])
    g = flt.groupby(["l_returnflag", "l_linestatus"], as_index=False).agg(
        sum_qty=("l_quantity", "sum"),
        sum_base_price=("l_extendedprice", "sum"),
        sum_disc_price=("revenue", "sum"),
        avg_qty=("l_quantity", "mean"),
        avg_price=("l_extendedprice", "mean"),
        count_order=("l_orderkey", "count"),
    )
    return g.to_spark().select(
        "l_returnflag", "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        F.round("avg_qty", 6).alias("avg_qty"),
        F.round("avg_price", 6).alias("avg_price"),
        F.col("count_order").cast("long").alias("count_order"),
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       CAST(count(l_orderkey) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01'
GROUP BY l_returnflag, l_linestatus
"""


def q02_filter_distinct(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Compound predicate + projection + DISTINCT in one pipeline
    (Selection core.py:568, Projection core.py:903, drop_duplicates
    core.py:636 — formerly gated separately as q02/q10). The filter is
    pushed to the parquet scan and the distinct is a map-side-partial
    hash aggregate: predicate pushdown + pruning asserted in
    tests/test_plans.py."""
    li = _t(spark, sf, "lineitem")
    flt = li[(li["l_quantity"] > 45) & (li["l_discount"] < 0.05)]
    return flt[["l_returnflag", "l_linestatus", "l_quantity"]].drop_duplicates().to_spark()


Q02_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus, l_quantity
FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
"""


def q03_predicates(spark: SparkSession, sf: str) -> SparkDataFrame:
    """isin / str.contains / str.endswith / OR / NOT
    (Criterion tree, core.py:301-376, 449-494)."""
    p = _t(spark, sf, "part")
    crit = (p["p_size"].isin([5, 15, 25]) | p["p_type"].str.contains("PROMO")) & ~p[
        "p_brand"
    ].str.endswith("3")
    return p[crit][["p_partkey", "p_name", "p_brand", "p_type", "p_size"]].to_spark()


Q03_SQL = """
SELECT p_partkey, p_name, p_brand, p_type, p_size
FROM part
WHERE (p_size IN (5, 15, 25) OR p_type LIKE '%PROMO%')
  AND NOT (p_brand LIKE '%3')
"""


def q04_topk(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Sort + limit top-k (OrderBy/Limit, core.py:818-849, 978-995;
    nlargest analog, api_status.py:24-28). Catalyst compiles this to
    TakeOrderedAndProject — per-partition heap, no global sort."""
    o = _t(spark, sf, "orders")
    top = o.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True])[:10]
    return top[["o_orderkey", "o_custkey", "o_totalprice"]].to_spark()


Q04_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q05_join_groupby(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Equi-join (left_on/right_on) + grouped agg (Join core.py:852-945).
    customer is broadcast by AQE at any realistic dim/fact ratio.
    Also carries the collect-aggregate family (formerly gated as q55,
    same grain): per segment, the sorted distinct set of order
    priorities, emitted as a comma-joined STRING (array_join) so the
    driver's pandas-based canonicalization can sort/hash it — a raw
    array<string> column is unhashable there (round-2 q05 regression);
    set state is bounded (≤ distinct priorities).
    n_priorities is size(collect_set) rather than count(DISTINCT):
    the set is already being collected, and a distinct aggregate would
    force a second (Expand) shuffle — this form keeps the plan at ONE
    shuffle with the customer side broadcast (asserted in
    tests/test_plans.py::test_join_groupby_single_shuffle)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    sdf = j.to_spark()
    prios = F.sort_array(F.collect_set("o_orderpriority"))
    return (
        sdf.groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.array_join(prios, ",").alias("priorities"),
            F.size(prios).cast("long").alias("n_priorities"),
        )
    )


Q05_SQL = """
SELECT c_mktsegment,
       round(sum(o_totalprice), 2) AS total_revenue,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q06_multijoin_region(spark: SparkSession, sf: str) -> SparkDataFrame:
    """TPC-H Q5-ish: 5-way join chain + agg (MultiJoin, core.py:948-955).
    Catalyst/AQE broadcast the dim chain (region/nation/customer) —
    only lineitem⋈orders shuffles at scale."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    li["revenue"] = li["l_extendedprice"] * (1 - li["l_discount"])
    j = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(n, left_on="c_nationkey", right_on="n_nationkey")
        .merge(r, left_on="n_regionkey", right_on="r_regionkey")
    )
    g = j.groupby("r_name", as_index=False).agg(
        revenue=("revenue", "sum"), n_items=("l_orderkey", "count")
    )
    return g.to_spark().select(
        "r_name",
        F.round("revenue", 2).alias("revenue"),
        F.col("n_items").cast("long").alias("n_items"),
    )


Q06_SQL = """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(l_orderkey) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q07_join_diffkeys(spark: SparkSession, sf: str) -> SparkDataFrame:
    """left_on != right_on keeps BOTH key columns
    (tests/test_data_frame.py:167-170)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    flt = j[j["c_acctbal"] < 0]
    return flt[["o_orderkey", "o_custkey", "c_custkey", "c_acctbal"]].to_spark()


Q07_SQL = """
SELECT o_orderkey, o_custkey, c_custkey, c_acctbal
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal < 0
"""


def q08_composite_join(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Composite-key equi-join (core.py:852-945 multi-key ON)."""
    li = _t(spark, sf, "lineitem")
    a = ps.from_spark(li[["l_orderkey", "l_linenumber", "l_quantity"]].to_spark())
    b = ps.from_spark(li[["l_orderkey", "l_linenumber", "l_extendedprice"]].to_spark())
    return a.merge(b, on=["l_orderkey", "l_linenumber"]).to_spark()


Q08_SQL = """
SELECT a.l_extendedprice, a.l_linenumber, a.l_orderkey, b.l_quantity
FROM (SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem) a
JOIN (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem) b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
"""


def q09_union(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Bag union (Union/concat, core.py:958-975)."""
    o = _t(spark, sf, "orders")
    f_part = o[o["o_orderstatus"] == "F"]
    o_part = o[o["o_orderstatus"] == "O"]
    u = ps.concat([f_part, o_part])
    return u[["o_orderkey", "o_orderstatus"]].to_spark()


Q09_SQL = """
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
"""


# (q10_distinct folded into q02_filter_distinct — the driver gate runs at
# most 50 queries, so single-operator slots were merged where grains align.)


def q11_derived_columns(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Column writes with Python arithmetic semantics: // floors toward
    −∞, % follows divisor sign (sql_utils.py:9-20). Row-level double
    math is bit-identical cross-engine → no rounding."""
    li = _t(spark, sf, "lineitem")
    li["revenue"] = li["l_extendedprice"] * (1 - li["l_discount"])
    li["okey_bucket"] = li["l_orderkey"] // 100
    li["lnum_mod3"] = li["l_linenumber"] % 3
    return li[["l_orderkey", "l_linenumber", "revenue", "okey_bucket", "lnum_mod3"]].to_spark()


Q11_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       CAST(floor(l_orderkey / 100) AS BIGINT) AS okey_bucket,
       CAST(l_linenumber % 3 AS BIGINT) AS lnum_mod3
FROM lineitem
"""


def q12_having(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Post-agg filter = HAVING pattern (tests/test_data_frame.py:521-538)."""
    o = _t(spark, sf, "orders")
    g = o.groupby("o_custkey", as_index=False).agg(total_spent=("o_totalprice", "sum"))
    h = g[g["total_spent"] > 1000000.0]
    return h.to_spark().select(
        "o_custkey", F.round("total_spent", 2).alias("total_spent")
    )


Q12_SQL = """
SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
FROM orders GROUP BY o_custkey
HAVING sum(o_totalprice) > 1000000.0
"""


def q13_rename_sort_limit(spark: SparkSession, sf: str) -> SparkDataFrame:
    """rename + sort + limit (UpdateNames core.py:729-758)."""
    c = _t(spark, sf, "customer")
    out = c.rename(columns={"c_name": "customer_name"}).sort_values("c_custkey")[:15]
    return out[["c_custkey", "customer_name", "c_acctbal"]].to_spark()


Q13_SQL = """
SELECT c_custkey, c_name AS customer_name, c_acctbal
FROM customer ORDER BY c_custkey LIMIT 15
"""


def q14_agg_global(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Ungrouped whole-table aggregates (Aggregator, core.py:1075-1188)
    plus conditional aggregation (SQL FILTER-clause pattern, formerly
    q56): returned-flag counts/revenue restricted inside the aggregate —
    one pass, no pre-filter join, still a single partial-agg shuffle."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    ret = F.col("l_returnflag") == "R"
    return li.agg(
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(ret).cast("long").alias("n_returned"),
        F.round(F.sum(F.when(ret, F.col("l_extendedprice")).otherwise(0.0)), 2).alias(
            "returned_revenue"
        ),
    )


Q14_SQL = """
SELECT round(sum(l_quantity), 2) AS total_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       min(l_shipdate) AS min_ship,
       max(l_shipdate) AS max_ship,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_returned,
       round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END), 2)
         AS returned_revenue
FROM lineitem
"""


def q15_window_topn(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Window function (beyond-reference; SURVEY §2.8 notes the reference
    has none): top-2 orders per market segment via row_number."""
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        j.select(
            "c_mktsegment", "o_orderkey", "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 2)
    )


Q15_SQL = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rn
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) t WHERE rn <= 2
"""


# ------------------------------------------------------------- text analysis


def q16_doc_profile(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Per-doc text profile in ONE pass over documents: token/char/
    lexical stats + stopword/quality scoring + marker-word language ID
    (functions/text.py; formerly gated separately as q16/q17/q18 — same
    grain, so one scan now covers all three function families), plus
    the LEARNED quality filter (operators/classifier.py, folded in
    round 10 per the registry-ceiling policy): hashed-bag-of-words
    linear score + sigmoid probability, seeded weights so the oracle
    recomputes the fold bit-for-bit (rounded at output only). All
    JVM-side expressions, no Python in the hot path.

    r13 fold (the r12 IOU): the CCNet head/middle/tail perplexity
    split (operators/lm.py:perplexity_buckets) — per-lang strata cut
    at exact tercile points of the corpus's own unigram logprob
    (q72's scoring machinery + q91's cut-point machinery, both
    already oracle-proven shapes). The oracle chains them and
    replays the strict-below tie rule: a doc whose rounded logprob
    TIES a cut point lands in the lower tier."""
    from pandasql_spark.operators.classifier import score_column, sigmoid
    from pandasql_spark.operators.lm import perplexity_buckets

    d = spark.read.parquet(f"{sf}/documents.parquet")
    toks = F.col("__toks")  # one projected token array for every stat
    clf = F.col("__clf")  # one projected fold for the score and sigmoid
    # perplexity_buckets carries (doc_id, text, lang) through, so the
    # profile projection rides ITS output — no second documents scan
    # and no extra profile⋈tier join.
    ppl = perplexity_buckets(
        d.select("doc_id", "text", "lang"), n_buckets=3, stratum_col="lang"
    )
    return ppl.withColumn("__toks", text.tokens("text")).withColumn(
        "__clf", score_column(toks, n_buckets=1 << 18, seed=0, bias=0.0)
    ).select(
        "doc_id",
        text.char_count("text").cast("long").alias("n_chars_calc"),
        text.token_count(toks).cast("long").alias("n_tokens"),
        text.uniq_token_count(toks).cast("long").alias("n_uniq_tokens"),
        text.type_token_ratio(toks).alias("ttr"),
        text.stopword_count(toks).cast("long").alias("n_stopwords"),
        text.stopword_ratio(toks).alias("stop_ratio"),
        text.quality_score(toks).alias("quality"),
        F.round(clf, 6).alias("clf_score"),
        F.round(sigmoid(clf), 6).alias("clf_prob"),
        "lang",
        text.lang_id(toks).alias("lang_pred"),
        "logprob",
        F.col("ppl_tier").cast("int").alias("ppl_tier"),
        "ppl_bucket",
    )


_SW = "'the', 'a', 'of', 'and', 'is', 'to', 'in'"


def _lang_score(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({lst})))"


_S_EN = _lang_score(("the", "and", "is", "of"))
_S_ES = _lang_score(("el", "la", "de", "que"))
_S_FR = _lang_score(("le", "la", "et", "les"))
_S_DE = _lang_score(("der", "die", "und", "das"))
# the classifier fold, mirrored from operators/classifier.py: md5 13-hex
# bucket (exact 52-bit), seeded weight ((b*2654435761) % 2000001)/1e6 - 1,
# left-to-right sum (list_reduce's first-element seed equals the Spark
# fold's 0.0 init for '+': 0.0 + w1 == w1 in IEEE)
_CLF = (
    "list_reduce(list_transform(string_split(text, ' '), "
    "t -> ((('0x' || substr(md5(t), 1, 13))::BIGINT % 262144) "
    "* 2654435761 % 2000001) / 1000000.0 - 1.0), (a, b) -> a + b)"
)

Q16_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
n AS (SELECT count(*) AS n FROM toks),
scored AS (
  SELECT doc_id,
         round(avg(ln(cnt / CAST(n.n AS DOUBLE))), 6) AS logprob
  FROM toks JOIN counts USING (token), n
  GROUP BY doc_id
),
sl AS (
  SELECT d.doc_id, d.lang, s.logprob,
         row_number() OVER (PARTITION BY d.lang ORDER BY s.logprob) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS nn
  FROM documents d JOIN scored s USING (doc_id)
),
cuts AS (
  SELECT lang, logprob AS v
  FROM sl JOIN (SELECT unnest(range(1, 3)) AS i) qs
    ON rn = CAST(ceil(round(i / 3.0 * nn, 9)) AS BIGINT)
),
cuta AS (SELECT lang, list(v ORDER BY v) AS cut_arr FROM cuts GROUP BY lang),
tiers AS (
  SELECT sl.doc_id, sl.logprob,
         CAST(2 - len(list_filter(a.cut_arr, c -> c < sl.logprob))
              AS INTEGER) AS ppl_tier
  FROM sl JOIN cuta a USING (lang)
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
       round(len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')), 6) AS ttr,
       CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SW}))) AS BIGINT) AS n_stopwords,
       round(len(list_filter(string_split(text, ' '), x -> x IN ({_SW})))
             / len(string_split(text, ' ')), 6) AS stop_ratio,
       round(0.4 * (least(len(string_split(text, ' ')), 200) / 200.0)
           + 0.4 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
           + 0.2 * (least(len(list_filter(string_split(text, ' '), x -> x IN ({_SW}))), 10) / 10.0),
             6) AS quality,
       round({_CLF}, 6) AS clf_score,
       round(1.0 / (1.0 + exp(-({_CLF}))), 6) AS clf_prob,
       lang,
  CASE
    WHEN {_S_EN} >= 1 AND {_S_EN} >= {_S_ES} AND {_S_EN} >= {_S_FR} AND {_S_EN} >= {_S_DE} THEN 'en'
    WHEN {_S_ES} >= 1 AND {_S_ES} >= {_S_FR} AND {_S_ES} >= {_S_DE} THEN 'es'
    WHEN {_S_FR} >= 1 AND {_S_FR} >= {_S_DE} THEN 'fr'
    WHEN {_S_DE} >= 1 THEN 'de'
    ELSE 'unk'
  END AS lang_pred,
       t.logprob,
       t.ppl_tier,
       CASE t.ppl_tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM documents JOIN tiers t USING (doc_id)
"""


def q19_dedup_exact(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Exact dedup via normalized-text fingerprint: hash-groupBy keeping
    the minimum doc id. One shuffle on the 32-hex fingerprint — the
    canonical exact-dedup plan at any scale (functions/text.py:fingerprint)."""
    from pandasql_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{sf}/documents.parquet")
    return exact_dedup(d).withColumnRenamed("first_id", "first_doc_id")


Q19_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------- similarity


def q20_cosine_topk(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Brute-force cosine top-20 vs vec_id=0 (functions/similarity.py).
    Broadcast query row + distributed scan + TakeOrderedAndProject."""
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return similarity.cosine_topk(e, q, k=20)


Q20_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(
         list_reduce(list_transform(list_zip(embedding::DOUBLE[], qv::DOUBLE[]),
                                    x -> x[1] * x[2]), (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b))
          * sqrt(list_reduce(list_transform(qv::DOUBLE[], x -> x * x), (a, b) -> a + b))),
         6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 20
"""


# -------------------------------------------------------------------- dedup


def q22_ngram_jaccard(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Exact 3-gram Jaccard near-dup pairs ≥ 0.5 (operators/dedup.py:
    ngram_jaccard_pairs — shingle explode + equi-self-join; boilerplate
    shingles pruned by max_shingle_freq at scale)."""
    from pandasql_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{sf}/documents.parquet")
    # max_shingle_freq is the 100 TB knob; the oracle doesn't model
    # pruning, so the GATED form disables it (inactive at gate SFs
    # anyway — no shingle nears the default 10k document frequency)
    return ngram_jaccard_pairs(d, threshold=0.5, max_shingle_freq=None)


Q22_SQL = """
WITH sh AS (
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
  FROM documents
), sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.id
JOIN sizes sb ON id_b = sb.id
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
"""


def q23_minhash_neardup(spark: SparkSession, sf: str) -> SparkDataFrame:
    """MinHash+LSH near-dup pairs (operators/dedup.py): 64 seeded
    universal hashes over md5-based shingle hashes, 16-band LSH bucket
    join, signature-overlap Jaccard estimate ≥ 0.5.

    Value-checked oracle: with ``base_hash="md5"`` the whole pipeline is
    engine-portable, so Q23_SQL recomputes the EXACT signatures,
    reproduces the 16-band candidate generation (bands compare the raw
    4-value signature slices — band-hash equality in Spark is slice
    equality), and applies the same estimate filter. The production
    default stays xxhash64 (faster; same statistics) — the gate pins the
    portable variant."""
    from pandasql_spark.operators.dedup import minhash_neardup_pairs

    # the signature kernel is Arrow/numpy CPU work: spread the
    # single-split small-SF scan first (A/B at sf0.1: 5.0 -> 2.0 s;
    # no-op at scale where inputs arrive split — _codec_corpus doc)
    d = _codec_corpus(spark, sf, "doc_id", "text")
    return minhash_neardup_pairs(d, threshold=0.5, base_hash="md5")


def _minhash_oracle_cte() -> str:
    """The engine-portable MinHash pipeline as a DuckDB WITH-prefix:
    recomputes md5-based signatures, 16-band candidates, and exposes
    `cand` (id_a, id_b) + `sig` (id, sig) for a final SELECT. Shared by
    the q23 (pairs) and q63 (incremental-dedup survivors) oracles so
    both gates pin the SAME candidate/estimate semantics."""
    from pandasql_spark.operators.dedup import _MERSENNE_31, _hash_coefficients

    coeffs = _hash_coefficients(64, seed=42)
    coef_rows = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(coeffs))
    m = _MERSENNE_31
    return f"""
WITH sh AS (
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
  FROM documents
),
hh AS (
  -- 15 hex chars = 60 bits: BIGINT-safe on both engines (mirrors
  -- minhash_signatures' long-arithmetic md5 reduction)
  SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % {m} AS h
  FROM sh
),
coef(j, a, b) AS (VALUES {coef_rows}),
sigrow AS (
  SELECT id, j, min((a::BIGINT * h + b) % {m}) AS v
  FROM hh CROSS JOIN coef
  GROUP BY id, j
),
bands AS (
  SELECT id, j // 4 AS band, list(v ORDER BY j) AS bh
  FROM sigrow GROUP BY id, j // 4
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
),
sig AS (SELECT id, list(v ORDER BY j) AS sig FROM sigrow GROUP BY id)"""


Q23_SQL = _minhash_oracle_cte() + """
SELECT id_a, id_b,
       round(len(list_filter(list_zip(sa.sig, sb.sig), x -> x[1] = x[2]))
             / len(sa.sig), 6) AS est_jaccard
FROM cand
JOIN sig sa ON id_a = sa.id
JOIN sig sb ON id_b = sb.id
WHERE round(len(list_filter(list_zip(sa.sig, sb.sig), x -> x[1] = x[2]))
            / len(sa.sig), 6) >= 0.5
"""


def q24_simhash_neardup(spark: SparkSession, sf: str) -> SparkDataFrame:
    """SimHash near-dup pairs (operators/dedup.py): 64-bit md5 bit-vote
    fingerprint (vectorized Arrow-batched mapInPandas), 4-band
    pigeonhole candidate join, xor+bit_count hamming ≤ 3.

    Value-checked oracle: the fingerprint is defined as big-endian
    md5[:8] per distinct token with ±1 bit votes — expressible in
    DuckDB SQL (Q24_SQL recomputes it from scratch), and the 4-band
    pigeonhole guarantees the banded candidate set equals the all-pairs
    set at hamming ≤ 3, so banding introduces no recall gap vs the
    oracle's brute-force join."""
    from pandasql_spark.operators.dedup import simhash_neardup_pairs

    # Arrow-batched bit-vote kernel: spread the single-split scan
    # (A/B at sf0.1: 1.46 -> 1.07 s; see _codec_corpus)
    d = _codec_corpus(spark, sf, "doc_id", "text")
    pairs = simhash_neardup_pairs(d, max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


Q24_SQL = """
WITH th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents)
),
votes AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1::UBIGINT = 1::UBIGINT THEN 1 ELSE -1 END) AS vote
  FROM th, (SELECT unnest(range(64)) AS j)
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id,
         bit_or(CASE WHEN vote > 0 THEN 1::UBIGINT << j ELSE 0::UBIGINT END) AS fp_u
  FROM votes GROUP BY doc_id
),
sfp AS (
  SELECT doc_id,
         CAST(CASE WHEN fp_u > 9223372036854775807::UBIGINT
                   THEN fp_u::HUGEINT - 18446744073709551616::HUGEINT
                   ELSE fp_u::HUGEINT END AS BIGINT) AS simhash
  FROM fp
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sfp a JOIN sfp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q25_embedding_topk_pairs(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Top-50 most-similar embedding PAIRS through the ROUTED default
    (functions/similarity.py:cosine_topk_pairs, round-6): exact
    all-pairs at/below 20k rows, multi-table sign-bit LSH + exact
    verify + top-k above. The gate corpus (≤2k vectors) takes the exact
    branch, which is what the O(n²) DuckDB oracle recomputes; the LSH
    branch's top-k agreement is pinned by
    tests/test_similarity.py::test_routed_lsh_branch_matches_exact on a
    planted-duplicate corpus. The corpus has no true near-dups (max
    pairwise cosine ≈0.51), so a thresholded near-dup query would be
    vacuous; top-k pairs gives a non-empty, oracle-checkable answer."""
    from pandasql_spark.functions.similarity import cosine_topk_pairs

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    return cosine_topk_pairs(e, k=50)


Q25_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(
         list_reduce(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
                                    x -> x[1] * x[2]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(a.embedding::DOUBLE[], x -> x * x), (x, y) -> x + y))
          * sqrt(list_reduce(list_transform(b.embedding::DOUBLE[], x -> x * x), (x, y) -> x + y))),
         6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, id_a, id_b
LIMIT 50
"""


def q10_embedding_neardup(spark: SparkSession, sf: str) -> SparkDataFrame:
    """LSH-bucketed embedding near-dup pairs on a planted-duplicate
    corpus (operators/dedup.py:embedding_neardup_pairs — the SCALE path
    that q25's brute-force baseline justifies). The raw corpus has no
    near-dups (max pairwise cosine ≈0.51), so each vector gets a planted
    twin: id+100000, every element x → 0.9·x + 0.01 (cosine ≈0.996,
    identical double arithmetic in Spark and DuckDB). The oracle is the
    brute-force all-pairs ground truth at the same threshold, so a green
    row proves the multi-table sign-bit LSH achieves EXACT recall here —
    per-pair miss probability (1 − (1−θ/π)^8)^8 ≈ 2e-6 at cosine 0.996,
    and the seeded hyperplanes make the outcome deterministic.

    r17 fold (VERDICT r16 task 6 — the q50 `survivors` recipe): a
    second stage gates the one-call `dedup_embeddings` COMPOSITION
    (sign-LSH pairs → exact cosine → connected components → keep min
    id per component) end-to-end; the oracle recomputes components
    over the exact pair set with the recursive-CTE min-label closure.
    DELIBERATE double pipeline, exactly like q50: deriving the
    composition's pairs from the standalone stage would re-implement
    the glue here and defeat the fold's purpose (scan floor
    re-recorded with reason)."""
    from pandasql_spark.operators.cache import attach_cleanup
    from pandasql_spark.operators.dedup import (
        dedup_embeddings,
        embedding_neardup_pairs,
    )

    e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(0.9) + F.lit(0.01)).alias(
            "embedding"
        ),
    )
    corpus = e.unionByName(planted)
    pairs = embedding_neardup_pairs(
        corpus, vec_col="embedding", id_col="vec_id", dim=64, threshold=0.95
    )
    surv = dedup_embeddings(
        corpus, vec_col="embedding", id_col="vec_id", dim=64, threshold=0.95
    )
    out = pairs.select(
        F.lit("pairs").alias("stage"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cos_sim",
    ).unionByName(
        surv.select(
            F.lit("survivors").alias("stage"),
            F.col("vec_id").cast("long").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.lit(None).cast("double").alias("cos_sim"),
        )
    )
    return attach_cleanup(out, pairs, surv)


Q10_SQL = """
WITH RECURSIVE corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x * 0.9 + 0.01)
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))),
           6) AS cos_sim
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
), hits AS (
  SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.95
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM hits
  UNION SELECT id_b AS u, id_a AS v FROM hits
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
nonreps AS (
  SELECT u FROM reach GROUP BY u HAVING least(u, min(v)) <> u
)
SELECT 'pairs' AS stage, CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b, cos_sim FROM hits
UNION ALL
SELECT 'survivors' AS stage, CAST(vec_id AS BIGINT) AS id_a,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cos_sim
FROM corpus WHERE vec_id NOT IN (SELECT u FROM nonreps)
"""


# ------------------------------------------------------------------- events


def q21_events_hourly(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Tumbling-window aggregation through the REAL streaming engine
    (streaming/events.py:replay_hourly_counts): readStream file source →
    watermarked window agg → complete-mode memory sink, AvailableNow
    trigger. A bounded complete-mode replay is exactly the batch GROUP
    BY, so the DuckDB oracle doubles as a batch-vs-stream equivalence
    check — this gives the streaming surface a value-checked gate row
    instead of pytest-only coverage."""
    from pandasql_spark.streaming.events import replay_hourly_counts

    return replay_hourly_counts(spark, f"{sf}/events.parquet")


Q21_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2, 3
"""


def q17_session_windows_stream(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Native session windows through the REAL streaming engine
    (streaming/events.py:replay_session_windows): readStream →
    `F.session_window(ts, '30 minutes')` per-user agg → complete-mode
    memory sink, AvailableNow trigger. Complete mode never evicts state,
    so the replay equals batch sessionization; the oracle is an
    independent lag/flag/running-sum sessionizer with Spark's half-open
    semantics (gap ≥ 30 min STARTS a new session; session_end = last
    event + gap). Cross-checks q26's batch algorithm AND gives the
    session-window state machine a value-checked gate row."""
    from pandasql_spark.streaming.events import replay_session_windows

    return replay_session_windows(spark, f"{sf}/events.parquet")


Q17_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS session_value
FROM sess GROUP BY user_id, sess_id
"""


def q18_sliding_windows_stream(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Sliding-window aggregation through the REAL streaming engine
    (streaming/events.py:sliding_value_stats — 30-min windows, 10-min
    slide, so every event lands in exactly 3 overlapping windows).
    Complete-mode AvailableNow replay equals the batch GROUP BY; the
    oracle expands each event into its 3 epoch-aligned windows
    (time_bucket minus k·slide) and aggregates — an independent
    construction of Spark's window() semantics. Third gate-checked
    streaming surface after tumbling (q21) and session (q17)."""
    from pandasql_spark.streaming.events import _replay, sliding_value_stats

    return _replay(
        spark,
        f"{sf}/events.parquet",
        sliding_value_stats,
        "q18_sliding_replay",
    )


Q18_SQL = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL 10 MINUTE, ts) - k * (INTERVAL 10 MINUTE) AS window_start,
         value
  FROM events, unnest([0, 1, 2]) AS t(k)
)
SELECT window_start,
       window_start + INTERVAL 30 MINUTE AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(avg(value), 6) AS avg_value
FROM expanded GROUP BY window_start
"""


def q53_stateful_running_totals(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Custom stateful operator through the REAL streaming engine
    (streaming/events.py:user_running_totals — applyInPandasWithState,
    the Spark analog of a keyed process function; replay via
    replay_running_totals). The single-file testdata replays as exactly
    one micro-batch, so the update-mode sink's final row per user equals
    the batch GROUP BY — which the oracle checks; multi-batch state
    accumulation is covered by tests/test_streaming.py with
    maxFilesPerTrigger pacing. The fourth gate-checked streaming
    surface, and the only one exercising user-defined state."""
    from pandasql_spark.streaming.events import replay_running_totals

    return replay_running_totals(spark, f"{sf}/events.parquet")


Q53_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY user_id
"""


def q56_interval_join_stream(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Stream-stream interval join through the REAL streaming engine
    (streaming/events.py:click_purchase_interval_join): each purchase
    matched to the same user's clicks in the preceding hour, both sides
    watermarked so join state is evictable. The single-file replay is
    one micro-batch, within which an append-mode inner join emits every
    match — equal to the batch interval join the oracle runs; watermark
    eviction across batches is covered in tests/test_streaming.py.
    Fifth gate-checked streaming surface."""
    from pandasql_spark.streaming.events import (
        _replay,
        click_purchase_interval_join,
    )

    return _replay(
        spark,
        f"{sf}/events.parquet",
        click_purchase_interval_join,
        "q56_interval_replay",
        output_mode="append",
    )


Q56_SQL = """
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts AS c_ts, value AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id, p.user_id, p.p_ts, c.c_ts, p.purchase_value, c.click_value
FROM purchases p JOIN clicks c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
 AND c.c_ts < p.p_ts
"""


def q58_stream_dedup(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Streaming exact-dedup with REAL cross-batch state
    (streaming/events.py:replay_stream_dedup): the event file replays
    twice as two micro-batches and `dropDuplicatesWithinWatermark` must
    drop the entire second batch from state — the streaming twin of
    q19's batch exact-dedup, for at-least-once sources. Oracle: the
    source itself (each event exactly once). Sixth gate-checked
    streaming surface."""
    from pandasql_spark.streaming.events import replay_stream_dedup

    return replay_stream_dedup(spark, f"{sf}/events.parquet")


Q58_SQL = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


def q48_write_roundtrip(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Sink-path gate: filter+project lineitem → `write_compacted`
    (sources/io.py — sizes the parquet file count from the optimizer's
    size estimate instead of inheriting upstream partitioning, the
    small-files fix) → read the files back → aggregate. The oracle runs
    the same aggregate on the ORIGINAL table, so a green row proves the
    write→read cycle is lossless for every column it carries — the
    first gate coverage for a writer (they were pytest-only)."""
    from pandasql_spark.session import scratch_dir
    from pandasql_spark.sources.io import write_compacted

    li = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
        F.col("l_shipdate") <= "1995-12-31"
    ).select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    out_dir = scratch_dir("q48_roundtrip_") + "/part"
    write_compacted(li, out_dir, target_file_mb=64)
    back = spark.read.parquet(out_dir)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


Q48_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
WHERE l_shipdate <= DATE '1995-12-31'
GROUP BY l_returnflag
"""


def q55_csv_roundtrip(spark: SparkSession, sf: str) -> SparkDataFrame:
    """CSV reader/writer gate (sources/io.py:read_csv — the reference's
    flagship ingest, io.py:12-28, whose memory-estimation/chunking
    machinery Spark's distributed scan subsumes): project+filter events
    → write CSV (header, ISO timestamps) → `read_csv` with schema
    inference → aggregate. Oracle aggregates the original parquet, so a
    green row proves the CSV round-trip preserves values AND that
    inference recovers workable types (timestamps survive via ISO
    format; doubles via plain notation)."""
    from pandasql_spark.session import scratch_dir
    from pandasql_spark.sources.io import read_csv

    ev = load_events(spark, sf).filter(F.col("event_type") != "").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out_dir = scratch_dir("q55_csv_") + "/part"
    ev.write.mode("overwrite").option("header", True).option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ).csv(out_dir)
    back = read_csv(
        out_dir,
        spark=spark,
        timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    )
    sdf = back.to_spark()
    return sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


Q55_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


def q59_stream_sink_roundtrip(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Exactly-once file sink gate
    (streaming/events.py:write_stream_parquet): stream the events file →
    checkpointed parquet sink, STARTED TWICE with the same checkpoint
    (the second start must replay nothing — source offsets live in the
    checkpoint, committed files in the sink's _spark_metadata log) →
    read the sink back and aggregate. The oracle aggregates the source,
    so a green row proves no loss AND no duplication across restart —
    the end-to-end exactly-once contract, value-checked. Seventh
    streaming gate surface. The sink dir stays until interpreter exit:
    the returned frame reads it lazily, through its _spark_metadata
    log."""
    from pandasql_spark.session import scratch_dir
    from pandasql_spark.streaming.events import (
        EVENT_SCHEMA,
        link_stage,
        run_bounded,
        write_stream_parquet,
    )

    stage = link_stage(f"{sf}/events.parquet", "q59_src_")
    base = scratch_dir("q59_sink_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    # the second start is a restart from the checkpoint; it must
    # replay nothing, and then the stage and checkpoint can go
    for release in ((), (stage, ckpt)):
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stage)
        run_bounded(spark, write_stream_parquet(stream, out, ckpt), release)

    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_id").alias("n_distinct_ids"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


Q59_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


def q60_zorder_pruned_scan(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Z-order clustering gate (operators/zorder.py): lay lineitem out
    along the Morton curve of (l_orderkey, l_partkey) — the multi-dim
    data-skipping layout — read it back, and answer a 2-D box query
    with an aggregate. The oracle runs the same box on the original
    table, so a green row proves the z-ordered write→scan path is
    value-lossless; the file-pruning benefit itself (the reason the
    layout exists) is measured in tests/test_zorder.py — a 10% box on
    the SECOND dimension touches a minority of z-ordered files but
    nearly all single-sort files."""
    from pandasql_spark.operators.zorder import write_zordered
    from pandasql_spark.session import scratch_dir

    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    ok_max = li.agg(F.max("l_orderkey")).first()[0]
    pk_max = li.agg(F.max("l_partkey")).first()[0]
    out = scratch_dir("q60_z_") + "/t"
    write_zordered(li, out, ["l_orderkey", "l_partkey"], num_files=16)
    back = spark.read.parquet(out)
    box = back.filter(
        (F.col("l_orderkey") <= int(ok_max * 0.2))
        & (F.col("l_partkey") <= int(pk_max * 0.2))
    )
    return box.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count_distinct("l_partkey").alias("n_parts"),
    )


Q60_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem
WHERE l_orderkey <= (SELECT CAST(floor(CAST(max(l_orderkey) AS DOUBLE) * 0.2) AS BIGINT) FROM lineitem)
  AND l_partkey  <= (SELECT CAST(floor(CAST(max(l_partkey)  AS DOUBLE) * 0.2) AS BIGINT) FROM lineitem)
"""


def q61_stratified_sample(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Deterministic uniform sampling, batch AND streaming, staged:

    - stage ``strata`` — stratified_sample_exact
      (operators/sampling.py): exactly 40 docs per language, chosen by
      md5-rank of the doc id — an order uncorrelated with content but
      identical on every engine, so the oracle reproduces the SAME
      sample row-for-row in DuckDB. The curation primitive for
      balanced training mixes; the approximate scale path (native
      sampleBy) is covered in tests/test_sampling.py.
    - stage ``stream_sample`` — priority_sample_per_key
      (streaming/sample.py, the r14 fold): the SAME md5-priority
      bottom-k semantics run through the REAL streaming engine
      (applyInPandasWithState, ≤k (priority, id) pairs of state per
      key, update mode — the q76 KMV recipe) over the events table,
      k=25 per event_type. Membership is fully value-checked through
      n/Σid/min/max of the sampled ids (any membership flip moves
      Σid); the oracle recomputes the bottom-k pick with the rank
      window. Twelfth gate-checked streaming surface; multi-batch
      merge equivalence pinned in tests/test_streaming_sample.py."""
    from pandasql_spark.operators.sampling import stratified_sample_exact
    from pandasql_spark.streaming.sample import replay_priority_sample

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    samp = stratified_sample_exact(docs, "lang", 40, "doc_id")
    strata = samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    ).select(
        F.lit("strata").alias("stage"), F.col("lang").alias("key"),
        "n", "total", "min_id", "max_id",
    )
    stream = replay_priority_sample(
        spark, f"{sf}/events.parquet", k=25,
        query_name="q61_priority_sample_replay",
    ).select(
        F.lit("stream_sample").alias("stage"),
        F.col("event_type").alias("key"),
        F.col("n_sample").alias("n"),
        F.aggregate(
            "sample_ids", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("total"),
        F.array_min("sample_ids").alias("min_id"),
        F.array_max("sample_ids").alias("max_id"),
    )
    return strata.unionByName(stream)


Q61_SQL = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
  FROM documents
),
eranked AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)),
                                     event_id) AS r
  FROM events WHERE event_id IS NOT NULL
)
SELECT 'strata' AS stage, lang AS key,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM ranked WHERE r <= 40 GROUP BY lang
UNION ALL
SELECT 'stream_sample', event_type,
       CAST(count(*) AS BIGINT),
       CAST(sum(event_id) AS BIGINT),
       min(event_id), max(event_id)
FROM eranked WHERE r <= 25 GROUP BY event_type
"""


def q62_heavy_hitters(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Frequent tokens, batch AND streaming, staged:

    - stage ``batch`` — the Misra-Gries candidates-then-verify plan
      (operators/freq.py): per-partition MG summaries (mapInPandas, no
      shuffle) → broadcast semi-join → exact counts of candidates
      only. With capacity ≥ ceil(1/threshold) the result is IDENTICAL
      to the naive groupBy — which is exactly what the DuckDB oracle
      runs — but the shuffle scales with partitions × capacity instead
      of the distinct-item count (the n-gram/URL domain killer at
      100 TB).
    - stage ``stream`` — the r15 fold (the recorded r14 IOU):
      hash-sharded MG state through the REAL streaming engine
      (streaming/hitters.py, applyInPandasWithState, S × capacity
      counters of state TOTAL — independent of the distinct-item
      domain), replayed over THREE doc_id-ordered micro-batches so the
      shard summaries genuinely fold across batch boundaries, then
      exact counts of the streamed candidate set (via the unified
      verify below; `streaming.hitters.verify_heavy_hitters` remains
      the standalone/nightly-reconciliation shape, pytest-covered).
      The sharding recall guarantee (capacity ≥ ⌈1/t⌉ ⇒ the
      shard-summary union is a superset of every global heavy hitter)
      makes the verified result equal the SAME naive groupBy, so both
      stages ride one oracle. Thirteenth gate-checked streaming
      surface. Both cutoffs use freq.hh_min_count — ceil(round(t·n,9)),
      mirrored in the oracle — so an exact-boundary hitter survives the
      binary-float ceil artifact on both engines (ADVICE r14).

    Unified verify (r17, VERDICT r16 task 4): the two stages used to
    run INDEPENDENT exact-count passes (one corpus scan each). Now
    `freq.verify_stage_candidates` counts the UNION of both candidate
    sets in ONE pass and filters per stage by membership + that
    stage's own hh_min_count cutoff — same rows per stage by
    construction (each stage's candidate set is a superset of the true
    hitters, and the per-stage filter reproduces its standalone
    verify), one fewer full corpus pass. Tokenization is the canonical
    `functions.text.tokens` single-space split, in documented lockstep
    with the oracle's string_split(text, ' ')."""
    from pandasql_spark.functions.text import tokens
    from pandasql_spark.operators.freq import (
        mg_candidate_counts,
        verify_stage_candidates,
    )
    from pandasql_spark.streaming.hitters import replay_mg_candidates

    import math

    # capacity is DERIVED from the threshold (r17 review): the
    # Misra-Gries recall guarantee needs capacity >= ceil(1/t), the
    # validation heavy_hitters enforces — hardcoding 100 next to
    # t=0.01 would let a future threshold edit silently void it
    threshold = 0.01
    capacity = max(100, math.ceil(1 / threshold))
    path = f"{sf}/documents.parquet"
    docs = spark.read.parquet(path)
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    b_vals, n_b = mg_candidate_counts(toks, "token", capacity=capacity)
    cands = replay_mg_candidates(
        spark, path, "text", capacity=capacity, num_shards=16, n_batches=3,
        query_name="q62_hitters_replay",
    )
    # one bounded collect: ≤ num_shards rows of ≤ capacity items each
    # (S × capacity strings total), carrying BOTH the streamed candidate
    # set and the exact per-shard row counts (Σ n_shard = n; empty sink
    # on an empty corpus → n_s = 0, the r16 empty-sink guard)
    srows = cands.collect()
    s_vals = sorted({t for r in srows for t in (r["items"] or [])})
    n_s = sum(int(r["n_shard"]) for r in srows)
    return verify_stage_candidates(
        toks,
        "token",
        {"batch": (b_vals, n_b), "stream": (s_vals, n_s)},
        threshold=threshold,
    )


Q62_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tot AS (
  SELECT count(*) AS n FROM tok WHERE token IS NOT NULL
), hh AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok
  GROUP BY token
  HAVING count(*) >= ceil(round(0.01 * (SELECT n FROM tot), 9))
)
SELECT 'batch' AS stage, token, cnt FROM hh
UNION ALL
SELECT 'stream' AS stage, token, cnt FROM hh
"""


def q63_incremental_dedup(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Incremental STREAMING near-dup dedup
    (streaming/incremental.py): documents replay as 3 doc_id-ordered
    micro-batches through a real foreachBatch query; each batch's band
    hashes join against the persisted band-bucket store of everything
    seen before, verified by signature-estimate ≥ 0.5; survivors are the
    docs with no earlier near-duplicate. Because every doc's bands are
    appended (not just survivors'), the survivor set is exactly the
    batch relation — documents minus the id_b side of q23's pair
    relation — which the oracle recomputes independently in DuckDB from
    raw text. Idempotent store writes (dynamic partition overwrite per
    batch_id) are regression-tested in tests/test_incremental_dedup.py."""
    from pandasql_spark.streaming.incremental import replay_incremental_dedup

    return replay_incremental_dedup(
        spark, f"{sf}/documents.parquet", n_batches=3, base_hash="md5"
    )


Q63_SQL = _minhash_oracle_cte() + """,
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN sig sa ON id_a = sa.id
  JOIN sig sb ON id_b = sb.id
  WHERE round(len(list_filter(list_zip(sa.sig, sb.sig), x -> x[1] = x[2]))
              / len(sa.sig), 6) >= 0.5
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM pairs)
"""


#: q64's static BPE merge table — applied IN ORDER, each rule
#: exhaustively (rule 3 consumes rule 2's "th" tokens — real chained
#: BPE). Static so the DuckDB oracle can replay the greedy encode as a
#: closed form: a left-to-right exhaustive pass of rule (a, b) over a
#: token sequence equals ONE non-overlapping string `replace` of the
#: boundary-marked pattern ⟨S·a·SS·b·S⟩ → ⟨S·ab·S⟩ on the
#: chr(1)-separated token string (replace scans left-to-right and
#:  resumes after each substitution — exactly the greedy fold's
#: contract). Learned merge tables (train_bpe) are iterative driver
#: state and not SQL-expressible; q100 gates their seed statistic and
#: test_bpe.py the induction loop.
_Q64_MERGES = (("e", "r"), ("t", "h"), ("th", "e"), ("a", "n"))


def q64_sequence_packing(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Sequence packing (operators/packing.py): documents concatenated
    in doc_id order and cut into 512-token chunks; each (doc, chunk)
    overlap row gives the doc-relative token slice and its offset in
    the chunk. The global token offset comes from the distributed
    running sum (range partition + per-partition window + scalar
    prefix offsets — no single-reducer window); chunk assignment is
    closed-form arithmetic + a bounded `sequence()` explode, so the
    oracle reproduces the whole table from a DuckDB window cumsum.

    r12 fold (registry-ceiling policy): the host also carries
    `pack_bpe_corpus` — the one-call text → fixed-length training
    sequences product (Arrow-batched BPE encode under the 4-rule
    static `_Q64_MERGES` table → lineage-barriered prefix-sum packing
    → chunk reassembly) at 256 subwords/chunk. Its section rides the
    same output schema as doc_id = −1 rows: one row per PACKED
    SEQUENCE with piece_end = the sequence's subword count (gating the
    every-chunk-but-last-is-full invariant), and seq_fp = md5 over the
    space-joined subword sequence (gating the packed CONTENT, token by
    token, in order). The oracle replays the greedy encode via
    boundary-marker replaces (see `_Q64_MERGES`) and the packing via
    the same window cumsum, then reassembles and fingerprints each
    chunk — so the whole encode → barrier → pack → regroup pipeline is
    value-checked end to end (the r11 IOU on pack_bpe_corpus)."""
    from pandasql_spark.operators.packing import pack_bpe_corpus, pack_chunks

    d = spark.read.parquet(f"{sf}/documents.parquet")
    docs = d.select("doc_id", text.token_count(text.tokens("text")).alias("n_tokens"))
    ws = pack_chunks(docs, 512).select(
        "doc_id", "chunk_id", "piece_start", "piece_end", "chunk_pos",
        F.lit("").alias("seq_fp"),
    )
    bpe = pack_bpe_corpus(
        d.select("doc_id", "text"), list(_Q64_MERGES), 256
    ).select(
        F.lit(-1).cast("long").alias("doc_id"),
        "chunk_id",
        F.lit(0).cast("long").alias("piece_start"),
        F.col("n_tokens").alias("piece_end"),
        F.lit(0).cast("long").alias("chunk_pos"),
        F.md5(F.array_join("tokens", " ")).alias("seq_fp"),
    )
    return ws.unionByName(bpe)


Q64_SQL = """
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), spans AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id) AS cend
  FROM toks WHERE n_tokens > 0
), exploded AS (
  SELECT doc_id, n_tokens, cend, cend - n_tokens AS cstart,
         unnest(range(CAST((cend - n_tokens) // 512 AS BIGINT),
                      CAST((cend - 1) // 512 + 1 AS BIGINT))) AS chunk_id
  FROM spans
),
-- pack_bpe_corpus fold: greedy BPE encode under the 4-rule static
-- merge table as boundary-marker replaces (chr(1) = token boundary;
-- one left-to-right non-overlapping replace per rule == one
-- exhaustive greedy pass), then the same cumsum packing at 256
-- subwords/chunk, reassembled and fingerprinted per chunk
bpe0 AS (
  SELECT doc_id,
         replace(replace(replace(replace(
           array_to_string(
             list_transform(
               list_filter(string_split(text, ' '), w -> len(w) > 0),
               w -> chr(1) ||
                    array_to_string(regexp_extract_all(w, '(?s).'),
                                    chr(1) || chr(1)) || chr(1)),
             ' '),
           chr(1)||'e'||chr(1)||chr(1)||'r'||chr(1), chr(1)||'er'||chr(1)),
           chr(1)||'t'||chr(1)||chr(1)||'h'||chr(1), chr(1)||'th'||chr(1)),
           chr(1)||'th'||chr(1)||chr(1)||'e'||chr(1), chr(1)||'the'||chr(1)),
           chr(1)||'a'||chr(1)||chr(1)||'n'||chr(1), chr(1)||'an'||chr(1))
         AS enc
  FROM documents
),
bpe_tok AS (
  SELECT doc_id,
         CASE WHEN enc = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(
                     trim(replace(enc, chr(1)||' '||chr(1), chr(1)||chr(1)),
                          chr(1)),
                     chr(1)||chr(1))
         END AS bt
  FROM bpe0
),
bpe_spans AS (
  SELECT doc_id, bt, len(bt) AS n,
         sum(len(bt)) OVER (ORDER BY doc_id) AS cend
  FROM bpe_tok WHERE len(bt) > 0
),
bpe_expl AS (
  SELECT bt, n, cend - n AS cstart,
         unnest(range(CAST((cend - n) // 256 AS BIGINT),
                      CAST((cend - 1) // 256 + 1 AS BIGINT))) AS chunk_id
  FROM bpe_spans
),
bpe_pieces AS (
  SELECT chunk_id,
         greatest(0, cstart - chunk_id * 256) AS chunk_pos,
         list_slice(bt,
                    CAST(greatest(0, chunk_id * 256 - cstart) + 1 AS BIGINT),
                    CAST(least(n, (chunk_id + 1) * 256 - cstart) AS BIGINT))
           AS piece
  FROM bpe_expl
),
bpe_chunks AS (
  SELECT chunk_id, flatten(list(piece ORDER BY chunk_pos)) AS ct
  FROM bpe_pieces GROUP BY chunk_id
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(greatest(0, chunk_id * 512 - cstart) AS BIGINT) AS piece_start,
       CAST(least(n_tokens, (chunk_id + 1) * 512 - cstart) AS BIGINT) AS piece_end,
       CAST(greatest(0, cstart - chunk_id * 512) AS BIGINT) AS chunk_pos,
       '' AS seq_fp
FROM exploded
UNION ALL
SELECT CAST(-1 AS BIGINT) AS doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(0 AS BIGINT) AS piece_start,
       CAST(len(ct) AS BIGINT) AS piece_end,
       CAST(0 AS BIGINT) AS chunk_pos,
       md5(array_to_string(ct, ' ')) AS seq_fp
FROM bpe_chunks
"""


def q65_exact_percentiles(spark: SparkSession, sf: str) -> SparkDataFrame:
    """EXACT order-price percentiles (operators/ranking.py:
    exact_percentiles): inverse-CDF value at global position ceil(q·n),
    found by the distributed ranking recipe — never `percentile()`'s
    collect-all-values aggregation buffer, never a single-reducer sort,
    never an approximation. o_orderkey tiebreak makes the position
    deterministic; the oracle recomputes the identical row_number pick
    in DuckDB."""
    from pandasql_spark.operators.ranking import exact_percentiles

    o = spark.read.parquet(f"{sf}/orders.parquet")
    return exact_percentiles(
        o, "o_totalprice", [0.01, 0.25, 0.5, 0.75, 0.95, 0.99], tiebreak="o_orderkey"
    )


Q65_SQL = """
WITH r AS (
  SELECT o_totalprice AS value,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
)
SELECT q, value
FROM r
JOIN (VALUES (0.01), (0.25), (0.5), (0.75), (0.95), (0.99)) qs(q)
  ON rn = CAST(ceil(q * n) AS BIGINT)
"""


def q66_contamination(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Benchmark-contamination check (operators/contamination.py):
    every 50th document plays the held-out eval set; flag the training
    docs sharing any word n-gram with it, with occurrence and distinct
    counts. One corpus scan, eval n-grams broadcast — no corpus-wide
    shuffle. Gate uses n=3 (the synthetic 31-word vocabulary makes
    longer n-grams vanishingly rare) and the raw-string join
    (hashed=False) so the DuckDB oracle reproduces it verbatim;
    production default is n=13 over xxhash64 keys.

    The gate exercises the BLOOM PREFILTER — the 100 TB path (bitmap
    membership drops non-member grams before the confirm join;
    measured 11× confirm-join shuffle-byte cut, SCALING.md). The
    result is exact either way (bloom false positives die in the
    confirm join, no false negatives), so the same oracle pins both
    the prefilter and the join.

    Stage ``fuzzy`` (the r14 fold) runs the NEAR-DUP complement —
    fuzzy_contaminated_docs: MinHash banding proposes cross-corpus
    candidates (eval side broadcast end-to-end, corpus never
    shuffles), exact shingle-Jaccard ≥ 0.5 verifies. The fuzzy train
    side plants a lightly-edited twin of every eval doc (text + ' zz',
    negative-id keyspace — the q79 convention) so the stage has
    genuine near-dup leaks to catch that the exact n-gram stage's
    input does NOT contain. The oracle recomputes true Jaccard over
    ALL cross pairs brute-force; probed before the fold: Spark ==
    brute force at both gate SFs with margins min-above 0.909 /
    max-below 0.049 from the threshold (LSH miss ~1e-30 there)."""
    from pandasql_spark.operators.contamination import (
        contaminated_docs,
        fuzzy_contaminated_docs,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    ngram = contaminated_docs(tr, ev, n=3, hashed=False, prefilter="bloom")
    planted = ev.select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    fuzzy = fuzzy_contaminated_docs(tr.unionByName(planted), ev, threshold=0.5)
    return ngram.select(
        F.lit("ngram").alias("stage"),
        "doc_id",
        "n_hits",
        "n_distinct_hits",
        F.lit(None).cast("long").alias("eval_id"),
        F.lit(None).cast("double").alias("jaccard"),
    ).unionByName(
        fuzzy.select(
            F.lit("fuzzy").alias("stage"),
            "doc_id",
            F.lit(None).cast("long").alias("n_hits"),
            F.lit(None).cast("long").alias("n_distinct_hits"),
            "eval_id",
            "jaccard",
        )
    )


Q66_SQL = """
WITH g AS (
  SELECT doc_id, unnest(list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS g
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), ev AS (
  SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0
), tr AS (
  SELECT doc_id, g FROM g WHERE doc_id % 50 <> 0
),
ftr AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
  UNION ALL
  SELECT -(doc_id + 1), text || ' zz' FROM documents WHERE doc_id % 50 = 0
),
fev AS (SELECT doc_id AS eval_id, text FROM documents WHERE doc_id % 50 = 0),
tsh AS (
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
  FROM ftr
),
esh AS (
  SELECT eval_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
  FROM fev
),
ts AS (SELECT id, count(*) AS n FROM tsh GROUP BY id),
es AS (SELECT eval_id, count(*) AS n FROM esh GROUP BY eval_id),
common AS (
  SELECT t.id, e.eval_id, count(*) AS c
  FROM tsh t JOIN esh e USING (sh) GROUP BY 1, 2
)
SELECT 'ngram' AS stage, tr.doc_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(DISTINCT tr.g) AS BIGINT) AS n_distinct_hits,
       CAST(NULL AS BIGINT) AS eval_id,
       CAST(NULL AS DOUBLE) AS jaccard
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
UNION ALL
SELECT 'fuzzy', c.id, NULL, NULL, c.eval_id,
       round(c.c / (ts.n + es.n - c.c), 6)
FROM common c JOIN ts ON c.id = ts.id JOIN es ON c.eval_id = es.eval_id
WHERE round(c.c / (ts.n + es.n - c.c), 6) >= 0.5
"""


def q67_repetition_signals(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Gopher-style repetition quality signals
    (operators/repetition.py): per-document bigram stats — total
    bigrams, top-bigram count, top-bigram fraction, duplicated-bigram
    fraction. The operator is one Arrow-batched mapInPandas scan with
    ZERO shuffles; the oracle's explode+groupBy shape is the
    independent check."""
    from pandasql_spark.operators.repetition import repetition_signals

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return repetition_signals(docs, n=2)


Q67_SQL = """
WITH g AS (
  SELECT doc_id, unnest(list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
    i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS g
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), c AS (
  SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY doc_id, g
), a AS (
  SELECT doc_id,
         sum(cnt) AS n_grams,
         max(cnt) AS top_gram_count,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_gram_n
  FROM c GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(top_gram_count AS BIGINT) AS top_gram_count,
       round(top_gram_count / CAST(n_grams AS DOUBLE), 6) AS top_gram_frac,
       round(dup_gram_n / CAST(n_grams AS DOUBLE), 6) AS dup_gram_frac
FROM a
"""


def q68_pii_redaction(spark: SparkSession, sf: str) -> SparkDataFrame:
    """PII detection + redaction (functions/pii.py) over a text column
    with deterministically planted email/phone/IPv4 literals (the
    synthetic corpus carries no real PII, so both engines plant the
    same values from c_custkey). Counts use regexp_count, redaction
    chained regexp_replace — all JVM-side codegen, zero shuffles; the
    patterns are restricted to Java-regex/RE2-identical syntax so the
    DuckDB oracle runs them verbatim."""
    from pandasql_spark.functions.pii import pii_count, redact_pii
    from pandasql_spark.functions import pii

    c = spark.read.parquet(f"{sf}/customer.parquet")
    key = F.col("c_custkey")
    text = F.concat_ws(
        " ",
        F.col("c_name"),
        F.lit("of segment"),
        F.col("c_mktsegment"),
        F.lit("mail user") ,
        F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com")),
        F.lit("call"),
        F.concat_ws(
            "-",
            F.lpad((key % 90 + 10).cast("string"), 2, "0"),
            F.lpad((key % 900 + 100).cast("string"), 3, "0"),
            F.lpad((key % 731).cast("string"), 3, "0"),
            F.lpad((key % 9973).cast("string"), 4, "0"),
        ),
        F.lit("host"),
        F.concat(
            F.lit("10."), (key % 256).cast("string"), F.lit(".0."),
            (key % 100).cast("string"),
        ),
    )
    docs = c.select(key.alias("c_custkey"), text.alias("t"))
    return docs.select(
        "c_custkey",
        F.regexp_count(F.col("t"), F.lit(pii.EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(pii.PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(pii.IPV4_RE)).cast("long").alias("n_ips"),
        pii_count("t").cast("long").alias("n_pii"),
        redact_pii("t").alias("redacted"),
    )


Q68_SQL = r"""
WITH d AS (
  SELECT c_custkey,
         c_name || ' of segment ' || c_mktsegment || ' mail user ' ||
         'user' || CAST(c_custkey AS VARCHAR) || '@example.com call ' ||
         lpad(CAST(c_custkey % 90 + 10 AS VARCHAR), 2, '0') || '-' ||
         lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(c_custkey % 731 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(c_custkey % 9973 AS VARCHAR), 4, '0') ||
         ' host 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.' ||
         CAST(c_custkey % 100 AS VARCHAR) AS t
  FROM customer
), pats AS (
  SELECT '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS email,
         '\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b' AS phone,
         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b' AS ip
)
SELECT c_custkey,
       CAST(len(regexp_extract_all(t, email)) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, phone)) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, ip)) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, email)) + len(regexp_extract_all(t, phone))
            + len(regexp_extract_all(t, ip)) AS BIGINT) AS n_pii,
       regexp_replace(regexp_replace(regexp_replace(t,
           email, '[EMAIL]', 'g'), phone, '[PHONE]', 'g'), ip, '[IP]', 'g'
       ) AS redacted
FROM d, pats
"""


def q69_semantic_dedup(spark: SparkSession, sf: str) -> SparkDataFrame:
    """SemDeDup-style semantic dedup (operators/semantic.py): cluster
    embeddings with a deterministic distributed Lloyd's k-means (k=8,
    2 iterations, lowest-id init, 6-decimal centroid quantization),
    then drop rows with a lower-id same-cluster neighbor at cosine
    ≥ 0.35. Every 100th vector is re-planted with id+100000 so the
    drop path is provably exercised (exact dups ⇒ same cell, cos 1.0).
    The oracle unrolls both Lloyd iterations in SQL, folding distances
    and cosines left to right with list_reduce; the engine's BLAS
    kernels agree with it after the 6-decimal rounding."""
    from pandasql_spark.operators.semantic import semantic_dedup

    # project to the two columns the operator uses BEFORE the k-means
    # persist: the Arrow assignment kernel is opaque to Catalyst, so
    # without this the unused `label` column rides through the scan,
    # the cache and every Lloyd pass (r17 ReadSchema audit)
    e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = e.filter(F.col("vec_id") % 100 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = e.unionByName(planted)
    out = semantic_dedup(corpus, k=8, n_iter=2, tau=0.35)
    return out.select(
        "vec_id", F.col("cid").cast("long").alias("cid"), "kept"
    )


Q69_SQL = """
WITH src AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings
  WHERE vec_id % 100 = 0
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM src ORDER BY vec_id LIMIT 8
),
a1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT s.vec_id, s.v, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY list_reduce(
               list_transform(list_zip(s.v, c.cv),
                              x -> (x[1] - x[2]) * (x[1] - x[2])),
               (acc, x) -> acc + x), c.cid) AS rn
    FROM src s CROSS JOIN c0 c
  ) WHERE rn = 1
),
m1 AS (
  SELECT cid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val
  FROM a1
),
c1 AS (
  SELECT c0.cid, coalesce(n.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN (
    SELECT cid, list(m ORDER BY pos) AS cv FROM (
      SELECT cid, pos, round(avg(val), 6) AS m FROM m1 GROUP BY cid, pos
    ) GROUP BY cid
  ) n USING (cid)
),
a2 AS (
  SELECT vec_id, v, cid FROM (
    SELECT s.vec_id, s.v, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY list_reduce(
               list_transform(list_zip(s.v, c.cv),
                              x -> (x[1] - x[2]) * (x[1] - x[2])),
               (acc, x) -> acc + x), c.cid) AS rn
    FROM src s CROSS JOIN c1 c
  ) WHERE rn = 1
),
m2 AS (
  SELECT cid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val
  FROM a2
),
c2 AS (
  SELECT c1.cid, coalesce(n.cv, c1.cv) AS cv
  FROM c1 LEFT JOIN (
    SELECT cid, list(m ORDER BY pos) AS cv FROM (
      SELECT cid, pos, round(avg(val), 6) AS m FROM m2 GROUP BY cid, pos
    ) GROUP BY cid
  ) n USING (cid)
),
a3 AS (
  SELECT vec_id, v, cid FROM (
    SELECT s.vec_id, s.v, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY list_reduce(
               list_transform(list_zip(s.v, c.cv),
                              x -> (x[1] - x[2]) * (x[1] - x[2])),
               (acc, x) -> acc + x), c.cid) AS rn
    FROM src s CROSS JOIN c2 c
  ) WHERE rn = 1
),
dropped AS (
  -- zero-norm guards mirror the Spark kernel (cos := 0 for a zero
  -- vector): a zero vector can never be "dropped", and DuckDB's
  -- 0/0 = NaN would otherwise sort it above every number here
  SELECT x.vec_id
  FROM a3 x JOIN a3 y ON x.cid = y.cid AND y.vec_id < x.vec_id
  WHERE list_reduce(list_transform(x.v, q -> q * q), (acc, e) -> acc + e) > 0
    AND list_reduce(list_transform(y.v, q -> q * q), (acc, e) -> acc + e) > 0
    AND round(
    list_reduce(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]),
                (acc, e) -> acc + e)
    / (sqrt(list_reduce(list_transform(x.v, q -> q * q), (acc, e) -> acc + e))
     * sqrt(list_reduce(list_transform(y.v, q -> q * q), (acc, e) -> acc + e))),
    6) >= 0.35
  GROUP BY x.vec_id
)
SELECT a3.vec_id, CAST(a3.cid AS BIGINT) AS cid,
       d.vec_id IS NULL AS kept
FROM a3 LEFT JOIN dropped d ON a3.vec_id = d.vec_id
"""


def q70_mixture_resample(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Two data-selection recipes over the documents corpus, staged:

    - stage ``mixture`` — resample_to_mixture (operators/sampling.py):
      apply a weight recipe (en:de:es:fr:zh = 2:2:3:2:1) to a 400-row
      budget. Largest-remainder apportionment (deterministic, integer
      weights ⇒ bit-identical float arithmetic cross-engine), md5-rank
      row selection within strata, and an undersized stratum (es
      target 120 > 73 available) exercising the no-redistribution
      cap. The oracle reproduces apportionment AND selection in SQL.
    - stage ``dsir`` — dsir_select (operators/dsir.py, the r14 fold):
      the 60 most target-like documents under hashed-n-gram
      importance weights (Xie et al. 2023), target = the corpus's own
      en slice. The oracle recomputes the full method in SQL —
      md5-bucket featurizer (8192 buckets), add-1 bucket models,
      per-doc Σ c·λ log-weight rounded to 6 (the q72 recipe), top-60
      by (logweight desc, doc_id). Probed cross-engine before the
      fold: 0 round-6 mismatches at sf0.001/sf0.01 and a k-boundary
      gap of 0.25/0.06 — orders of magnitude beyond ln/sum drift."""
    from pandasql_spark.operators.dsir import dsir_select
    from pandasql_spark.operators.sampling import resample_to_mixture

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = resample_to_mixture(
        docs,
        stratum_col="lang",
        weights={"en": 2, "de": 2, "es": 3, "fr": 2, "zh": 1},
        total_n=400,
        id_col="doc_id",
    )
    mix = out.select(
        F.lit("mixture").alias("stage"),
        "doc_id",
        "lang",
        F.lit(None).cast("double").alias("logweight"),
    )
    sel = dsir_select(docs, docs.filter(F.col("lang") == "en"), k=60)
    dsir = docs.join(F.broadcast(sel), "doc_id").select(
        F.lit("dsir").alias("stage"), "doc_id", "lang", "logweight"
    )
    return mix.unionByName(dsir)


Q70_SQL = """
WITH w(lang, wt) AS (
  VALUES ('en', 2.0), ('de', 2.0), ('es', 3.0), ('fr', 2.0), ('zh', 1.0)
),
raw AS (
  SELECT lang, (wt / (SELECT sum(wt) FROM w)) * 400 AS r FROM w
),
base AS (
  SELECT lang, CAST(floor(r) AS BIGINT) AS fl, r - floor(r) AS rem FROM raw
),
tgt AS (
  SELECT lang,
         fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                        <= 400 - (SELECT sum(fl) FROM base)
              THEN 1 ELSE 0 END AS n
  FROM base
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
),
toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
uni AS (SELECT doc_id, unnest(ts) AS g FROM toks),
bi0 AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
        FROM toks WHERE len(ts) >= 2),
grams AS (SELECT doc_id, g FROM uni
          UNION ALL SELECT doc_id, w1 || ' ' || w2 FROM bi0),
db AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 8192
                AS bucket
       FROM grams),
rawc AS (SELECT doc_id, bucket, count(*) AS c FROM db GROUP BY doc_id, bucket),
r AS (SELECT bucket, sum(c) AS rcnt FROM rawc GROUP BY bucket),
ttoks AS (SELECT string_split(text, ' ') AS ts FROM documents WHERE lang = 'en'),
tuni AS (SELECT unnest(ts) AS g FROM ttoks),
tbi0 AS (SELECT unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
         FROM ttoks WHERE len(ts) >= 2),
tgrams AS (SELECT g FROM tuni UNION ALL SELECT w1 || ' ' || w2 FROM tbi0),
t AS (SELECT CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 8192
               AS bucket,
             count(*) AS cnt
      FROM tgrams GROUP BY 1),
lam AS (
  SELECT r.bucket,
         ln(coalesce(t.cnt, 0) + 1.0)
         - ln((SELECT sum(cnt) FROM t) + 8192.0)
         - ln(r.rcnt + 1.0)
         + ln((SELECT sum(rcnt) FROM r) + 8192.0) AS lam
  FROM r LEFT JOIN t USING (bucket)
),
lw AS (
  SELECT doc_id, round(sum(c * lam), 6) AS logweight
  FROM rawc JOIN lam USING (bucket)
  GROUP BY doc_id
),
sel AS (
  SELECT doc_id, logweight,
         row_number() OVER (ORDER BY logweight DESC, doc_id) AS rk
  FROM lw
)
SELECT 'mixture' AS stage, r.doc_id, r.lang,
       CAST(NULL AS DOUBLE) AS logweight
FROM ranked r JOIN tgt USING (lang)
WHERE r.rk <= tgt.n
UNION ALL
SELECT 'dsir', d.doc_id, d.lang, s.logweight
FROM sel s JOIN documents d USING (doc_id)
WHERE s.rk <= 60
"""


def q71_curation_pipeline(spark: SparkSession, sf: str) -> SparkDataFrame:
    """End-to-end corpus curation (operators/curation.py): quality gate
    (40–65 tokens) → bigram-LM floor (mean conditional ln p(w2|w1) ≥
    −3.33, model trained on the post-quality corpus — q98's machinery)
    → LEARNED-classifier probability floor (the weight-table path:
    `weights_to_df` model riding ONE broadcast join, sigmoid ≥ 0.5) →
    exact dedup (keep lowest id) → decontaminate against the doc_id%50
    eval slice (3-grams, raw-string keys) → resample to an en:es:fr =
    2:1:1 mixture on a 120-row budget. Each stage is individually
    oracle-gated (q16/q98/q19/q66/q70); this gate value-checks the
    COMPOSITION — the oracle chains the same SIX stages in SQL — and
    exercises the lineage barriers under a genuinely multi-stage plan
    (the r11 IOU).

    Oracle-ability of the optional floors: the bigram floor sits at
    −3.33, ≥2.7e-4 from every doc's score at sf0.001/sf0.01 (probed) —
    far beyond cross-engine ln/avg ulp drift. The learned model is
    weights_to_df over a CLOSED-FORM dyadic weight vector (4096
    buckets, w = ((b+7)·2654435761 mod 2048 − 1024)/1024 — multiples
    of 2⁻¹⁰, so per-doc score sums are EXACT in double and
    order/engine-independent); iterative GD training itself is not
    SQL-expressible (trainer is pytest-gated in test_classifier.py),
    but the gated PLAN — explode → broadcast model join → per-doc sum
    → sigmoid floor — is byte-identical to a trained model's. The 0.5
    probability floor is exact cross-engine: sigmoid(s) ≥ 0.5 ⟺ s ≥ 0
    in IEEE (exp(0) = 1 exactly), so the oracle filters on score ≥ 0."""
    import numpy as np

    from pandasql_spark.operators.classifier import weights_to_df
    from pandasql_spark.operators.curation import curate_corpus

    b = np.arange(4096, dtype=np.int64)
    w = ((b + 7) * 2654435761 % 2048 - 1024) / 1024.0
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    out = curate_corpus(
        tr,
        eval_df=ev,
        min_tokens=40,
        max_tokens=65,
        min_bigram_logprob=-3.33,
        ngram_n=3,
        hashed=False,
        min_quality_prob=0.5,
        quality_weights=weights_to_df(spark, w),
        quality_bias=0.0,
        quality_normalize=False,
        quality_n_buckets=4096,
        mixture={"en": 2, "es": 1, "fr": 1},
        total_n=120,
    )
    return out.select("doc_id", "lang", "source")


Q71_SQL = """
WITH q AS (
  SELECT * FROM documents
  WHERE doc_id % 50 <> 0
    AND len(string_split(text, ' ')) BETWEEN 40 AND 65
),
-- bigram-LM floor: model trained on the post-quality corpus (q98's
-- recipe scoped to q); NULL logprob (single-token docs) passes
bg_toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM q),
bg_pairs AS (
  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
  FROM bg_toks WHERE len(ts) >= 2
),
bg_pc AS (SELECT w1, w2, count(*) AS cnt FROM bg_pairs GROUP BY w1, w2),
bg_ctx AS (SELECT w1, sum(cnt) AS ctx FROM bg_pc GROUP BY w1),
bg_sc AS (
  SELECT t.doc_id, avg(ln(pc.cnt / CAST(c.ctx AS DOUBLE))) AS lp
  FROM bg_toks t
  LEFT JOIN bg_pairs p USING (doc_id)
  LEFT JOIN bg_pc pc ON p.w1 = pc.w1 AND p.w2 = pc.w2
  LEFT JOIN bg_ctx c ON p.w1 = c.w1
  GROUP BY t.doc_id
),
bq AS (
  SELECT q.* FROM q JOIN bg_sc USING (doc_id)
  WHERE bg_sc.lp IS NULL OR bg_sc.lp >= -3.33
),
-- learned-classifier floor: closed-form dyadic weight model (4096
-- buckets, weights multiples of 2^-10 -> exact sums); sigmoid >= 0.5
-- is exactly score >= 0
cq AS (
  SELECT * FROM bq
  WHERE list_reduce(list_transform(string_split(text, ' '),
          t -> (((('0x' || substr(md5(t), 1, 13))::BIGINT % 4096) + 7)
                * 2654435761 % 2048 - 1024) / 1024.0),
        (a, b) -> a + b) >= 0
),
keep AS (
  SELECT min(doc_id) AS doc_id FROM cq
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
d AS (SELECT cq.* FROM cq JOIN keep USING (doc_id)),
evg AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS g
    FROM documents
    WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 3
  )
),
trg AS (
  SELECT doc_id, unnest(list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS g
  FROM d
  WHERE len(string_split(text, ' ')) >= 3
),
contaminated AS (SELECT DISTINCT doc_id FROM trg JOIN evg USING (g)),
c AS (
  SELECT * FROM d
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
w(lang, wt) AS (VALUES ('en', 2.0), ('es', 1.0), ('fr', 1.0)),
raw AS (
  SELECT lang, (wt / (SELECT sum(wt) FROM w)) * 120 AS r FROM w
),
base AS (
  SELECT lang, CAST(floor(r) AS BIGINT) AS fl, r - floor(r) AS rem FROM raw
),
tgt AS (
  SELECT lang,
         fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                        <= 120 - (SELECT sum(fl) FROM base)
              THEN 1 ELSE 0 END AS n
  FROM base
),
ranked AS (
  SELECT c.doc_id, c.lang, c.source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM c
)
SELECT r.doc_id, r.lang, r.source
FROM ranked r JOIN tgt USING (lang)
WHERE r.rk <= tgt.n
"""


def q72_unigram_logprob(spark: SparkSession, sf: str) -> SparkDataFrame:
    """CCNet-style LM quality scoring (operators/lm.py): train a
    unigram model on the corpus (one count pass, map-side partial agg),
    then score every document by mean token ln-probability (broadcast
    vocab join). The oracle recomputes both passes in SQL; ln/avg agree
    cross-engine after round-to-6."""
    from pandasql_spark.operators.lm import unigram_logprob_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return unigram_logprob_scores(docs)


Q72_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
n AS (SELECT count(*) AS n FROM toks)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(cnt / CAST(n.n AS DOUBLE))), 6) AS logprob
FROM toks JOIN counts USING (token), n
GROUP BY doc_id
"""


def q73_corpus_report(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Corpus observability report (operators/report.py): one call →
    tall (metric, value) frame — volumes, EXACT token-length
    percentiles (via the range-partitioned ranking recipe, q65's
    machinery), exact-dup rate (q19's fingerprint), per-lang mix. The
    oracle recomputes every metric in SQL."""
    from pandasql_spark.operators.report import corpus_report

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return corpus_report(docs, stratum_col="lang")


Q73_SQL = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS tc,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
vol AS (
  SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM t
  UNION ALL SELECT 'n_tokens', CAST(sum(tc) AS DOUBLE) FROM t
  UNION ALL SELECT 'avg_tokens', round(avg(tc), 6) FROM t
  UNION ALL SELECT 'exact_dup_rate',
         round(1 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6) FROM t
),
r AS (
  SELECT tc, row_number() OVER (ORDER BY tc, doc_id) AS rn,
         count(*) OVER () AS n
  FROM t
),
pct AS (
  SELECT 'p' || CAST(CAST(round(q * 100) AS INT) AS VARCHAR) || '_tokens' AS metric,
         CAST(tc AS DOUBLE) AS value
  FROM r JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) qs(q)
    ON rn = CAST(ceil(q * n) AS BIGINT)
),
mix AS (
  SELECT 'docs_lang=' || lang AS metric, CAST(count(*) AS DOUBLE) AS value
  FROM documents GROUP BY lang
)
SELECT * FROM vol UNION ALL SELECT * FROM pct UNION ALL SELECT * FROM mix
"""


def q74_kmv_distinct(spark: SparkSession, sf: str) -> SparkDataFrame:
    """KMV bottom-k distinct sketch (operators/sketch.py): estimate the
    distinct o_custkey count of orders with a k=256 minimum-values
    sketch over portable md5 hashes. Unlike HLL the whole sketch AND
    the estimate are engine-reproducible: the oracle recomputes the
    bottom-k and the (k−1)·M/h(k) arithmetic in SQL and hash-matches
    the estimate itself."""
    from pandasql_spark.operators.sketch import kmv_distinct_estimate

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    return kmv_distinct_estimate(orders, "o_custkey", k=256)


Q74_SQL = """
WITH h AS (
  SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders
),
bottom AS (SELECT hx FROM h ORDER BY hx LIMIT 256),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hashes, max(hx) AS kth_hash
  FROM bottom
)
SELECT n_hashes, kth_hash,
       CASE WHEN n_hashes < 256 THEN CAST(n_hashes AS DOUBLE)
       ELSE round(
         CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) /
         list_reduce(
           list_transform(range(1, 14),
             i -> CAST(strpos('0123456789abcdef', substr(kth_hash, i, 1)) - 1
                       AS DOUBLE)),
           (acc, x) -> acc * 16 + x),
         6)
       END AS estimate
FROM agg
"""


def q75_kmv_set_overlap(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Theta-style set-overlap estimation from two KMV sketches
    (operators/sketch.py kmv_set_relations): estimated union size,
    intersection size, and Jaccard between the customer keys appearing
    in orders and the full customer key set — two bottom-k scans and a
    k-row join instead of a full-table join. Deterministic md5 hashes
    make the whole computation (θ pick included) reproducible in the
    SQL oracle."""
    from pandasql_spark.operators.sketch import kmv_set_relations

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    return kmv_set_relations(orders, "o_custkey", cust, "c_custkey", k=256)


Q75_SQL = """
WITH ha AS (
  SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders
  ORDER BY hx LIMIT 256
),
hb AS (
  SELECT DISTINCT md5(CAST(c_custkey AS VARCHAR)) AS hx FROM customer
  ORDER BY hx LIMIT 256
),
theta AS (
  SELECT least((SELECT max(hx) FROM ha), (SELECT max(hx) FROM hb)) AS th
),
ab AS (SELECT hx FROM ha, theta WHERE hx <= th),
bb AS (SELECT hx FROM hb, theta WHERE hx <= th),
u AS (
  SELECT CAST(count(*) AS BIGINT) AS n_union_sample
  FROM (SELECT hx FROM ab UNION SELECT hx FROM bb)
),
i AS (
  SELECT CAST(count(*) AS BIGINT) AS n_inter_sample
  FROM ab JOIN bb USING (hx)
),
tv AS (
  SELECT list_reduce(
           list_transform(range(1, 14),
             x -> CAST(strpos('0123456789abcdef', substr(th, x, 1)) - 1
                       AS DOUBLE)),
           (acc, v) -> acc * 16 + v) AS theta_val
  FROM theta
)
SELECT n_union_sample, n_inter_sample,
       round(n_union_sample * CAST(4503599627370496 AS DOUBLE) / theta_val, 6)
         AS est_union,
       round(n_inter_sample * CAST(4503599627370496 AS DOUBLE) / theta_val, 6)
         AS est_intersection,
       CASE WHEN n_union_sample = 0 THEN 0.0
       ELSE round(CAST(n_inter_sample AS DOUBLE) / n_union_sample, 6)
       END AS jaccard
FROM u, i, tv
"""


def q76_windowed_kmv_stream(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Streaming windowed KMV distinct sketch through the REAL engine
    (streaming/sketch.py, applyInPandasWithState): per-hour distinct-
    user estimates from a bounded k=16-hash state per window. k chosen
    below the busiest hour's distinct count so BOTH branches gate —
    quiet hours take the exact-below-k path, busy ones the (k−1)·M/h(k)
    estimator, and the oracle recomputes per-window bottom-k + both
    branches in SQL. Ninth gate-checked streaming surface; the only
    one with sketch-valued state."""
    from pandasql_spark.streaming.sketch import replay_windowed_kmv

    # ttl explicit: the single-file gate replay is trivially
    # time-ordered, so the watermark is safe and the eviction path gets
    # end-to-end exercise (the final no-data batch fires the timeouts).
    # The replay helper itself defaults to ttl=None because general
    # backfills are NOT file-ordered (see replay_windowed_kmv).
    return replay_windowed_kmv(
        spark, f"{sf}/events.parquet", k=16, ttl_seconds=7200
    )


Q76_SQL = """
WITH h AS (
  SELECT DISTINCT date_trunc('hour', ts) AS hour,
         md5(CAST(user_id AS VARCHAR)) AS hx
  FROM events
  WHERE user_id IS NOT NULL
),
r AS (
  SELECT hour, hx, row_number() OVER (PARTITION BY hour ORDER BY hx) AS rn
  FROM h
),
agg AS (
  SELECT hour, CAST(count(*) AS BIGINT) AS n_hashes, max(hx) AS kth_hash
  FROM r WHERE rn <= 16 GROUP BY hour
)
SELECT hour, n_hashes, kth_hash,
       CASE WHEN n_hashes < 16 THEN CAST(n_hashes AS DOUBLE)
       ELSE round(
         CAST(15 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) /
         list_reduce(
           list_transform(range(1, 14),
             x -> CAST(strpos('0123456789abcdef', substr(kth_hash, x, 1)) - 1
                       AS DOUBLE)),
           (acc, v) -> acc * 16 + v),
         6)
       END AS estimate
FROM agg
"""


