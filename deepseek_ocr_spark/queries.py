"""Driver-facing query registry: one named query per implemented operator
from SURVEY.md §2, each as (a) an idiomatic PySpark DataFrame program and
(b) an equivalent ANSI-SQL oracle string for DuckDB.

Conventions that keep the two engines hash-identical:
- Money/measure aggregation is done in DECIMAL (exact, order-independent)
  and only the final value is cast to DOUBLE — double summation order
  differs between engines and would break value-hash comparison.
- Sequential double folds (array norms, cosines) are written left-to-right
  on both sides and rounded to 6 decimals.
- Every integral output is cast to BIGINT on both sides (Spark count/size
  yields int/long inconsistently; DuckDB SUM(int) yields HUGEINT).
- Every computed column is aliased identically on both sides.

The extraction-operator queries (x*/t*/f*) run over a deterministic
"raw page" augmentation of the driver's flat ``documents`` table: grounding
blocks, malformed det payloads, LaTeX, <center>, newline runs and the EOS
sentinel are injected as pure functions of doc_id, mirrored exactly in the
DuckDB CTE ``raw_docs`` below (reference shapes: run_dpsk_ocr_pdf.py:124,
138-148, 289-314).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.tiling import BPE_PAT as _BPE_PAT
from .schema import EOS_SENTINEL

# ---------------------------------------------------------------------------
# shared constants (kept in sync between the Spark and DuckDB sides)
# ---------------------------------------------------------------------------

# Java/RE2-portable grounding pattern (run_dpsk_ocr_pdf.py:124).
REF_PAT = r"(?s)<\|ref\|>(.*?)<\|/ref\|><\|det\|>(.*?)<\|/det\|>"
MEDIA_PAT = r"(?s)<\|ref\|>image<\|/ref\|><\|det\|>(.*?)<\|/det\|>"
# well-formed det payload: bracketed list of 4-int lists (X3 semantics)
DET_OK_PAT = r"^\s*\[\s*(\[\s*\d+\s*(,\s*\d+\s*){3}\]\s*,?\s*)+\]\s*$"
PAGE_SEP = " <|p|> "
STOPWORDS = ("the", "a", "of")

_num = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c, p: int = 18, s: int = 2):
    return _num(c).cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# raw-page augmentation of the driver's documents table (both engines)
# ---------------------------------------------------------------------------


def with_raw(df: DataFrame) -> DataFrame:
    """Inject reference-shaped structures into each doc as a pure function
    of doc_id. Mirrored byte-for-byte by RAW_DOCS_CTE."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    raw = F.concat(
        F.lit("<|ref|>title<|/ref|><|det|>[["),
        s(d % 900),
        F.lit(",10,"),
        s(d % 500 + 110),
        F.lit(",48]]<|/det|># Heading "),
        s(d),
        F.lit("\n"),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("<|ref|>image<|/ref|><|det|>[["),
                s(d % 300),
                F.lit(",50,600,420]]<|/det|>"),
            ),
        ).otherwise(F.lit("")),
        F.col("text"),
        F.when(
            d % 6 == 0, F.lit("\n<|ref|>image<|/ref|><|det|>[[12,600,700,900]]<|/det|>")
        ).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit("<|ref|>text<|/ref|><|det|>[[12, 34<|/det|>")).otherwise(
            F.lit("")
        ),
        F.when(
            d % 5 == 0,
            F.lit("\nx \\coloneqq y \\eqqcolon z\n\n\n\n<center>centered</center>"),
        ).otherwise(F.lit("")),
        F.when(d % 3 > 0, F.lit(EOS_SENTINEL)).otherwise(F.lit("")),
    )
    return df.withColumn("raw", raw)


RAW_DOCS_CTE = f"""
raw_docs AS (
  SELECT doc_id, lang, source, n_chars,
    '<|ref|>title<|/ref|><|det|>[[' || CAST(doc_id % 900 AS VARCHAR) || ',10,'
      || CAST(doc_id % 500 + 110 AS VARCHAR) || ',48]]<|/det|># Heading '
      || CAST(doc_id AS VARCHAR) || chr(10)
    || CASE WHEN doc_id % 4 = 0 THEN '<|ref|>image<|/ref|><|det|>[['
         || CAST(doc_id % 300 AS VARCHAR) || ',50,600,420]]<|/det|>' ELSE '' END
    || text
    || CASE WHEN doc_id % 6 = 0 THEN chr(10) ||
         '<|ref|>image<|/ref|><|det|>[[12,600,700,900]]<|/det|>' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN
         '<|ref|>text<|/ref|><|det|>[[12, 34<|/det|>' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'x \\coloneqq y \\eqqcolon z'
         || chr(10) || chr(10) || chr(10) || chr(10)
         || '<center>centered</center>' ELSE '' END
    || CASE WHEN doc_id % 3 > 0 THEN '{EOS_SENTINEL}' ELSE '' END
    AS raw
  FROM documents
)
"""


def _raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_raw(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# relational core (§2.7 checklist: filter/join/agg/window/sort/set-op)
# ---------------------------------------------------------------------------


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregation: partial+final map-side combine,
    decimal-exact measures. 100 TB note: 6-group output — pure map-side
    reduction, shuffle carries only |groups|×|tasks| rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_discount")).cast("double") / F.count("l_discount").cast("double"))
            .alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS sum_disc_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE)
       AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_join_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders shuffle join + sort-agg + deterministic top-k.
    customer is the small side → broadcast (no shuffle of orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
        .select(F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_name", "revenue", "n_orders")
    )


SQL_TOP_CUSTOMERS = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 10
"""


def q_join_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join of the small dim (part) against the fact table —
    at 100 TB this is the no-shuffle join shape for every dim ≤ a few GB."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


SQL_PART_TYPE_REVENUE = """
SELECT p_type,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""


def q_window_running_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function checklist row, one query per grain (rule-16 cap):
    cumulative sum (decimal-exact), row_number, lag-based inter-event
    gap, and lead — all over the same per-user event-time window (merged
    q_window_running_sum + q_window_lag_delta, r4; both shapes stay
    driver-checked)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.sum(_dec("value", 18, 6)).over(w).cast("double").alias("running_value"),
        F.row_number().over(w).cast("bigint").alias("seq"),
        F.floor(
            (F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(prev_ts.cast("timestamp"))) / F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("gap_sec"),
        F.lead("event_type").over(w).alias("next_type"),
    )


SQL_RUNNING_LAG = """
SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_value,
  CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
  CAST(FLOOR((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0) AS BIGINT) AS gap_sec,
  lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_topk_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged registry entry (r5, 50-entry cap): global deterministic
    top-k (sort + limit; Spark plans TakeOrderedAndProject — per-
    partition top-k then merge, no full sort) JOINED with the per-day
    two-phase COUNT(DISTINCT) aggregates on each event's day. Both §2.7
    checklist shapes (top-k, distinct agg) stay driver-checked in one
    event-grain result. Rank is on the ROUNDED value with id tiebreak
    (CLAUDE.md rule 2): DuckDB's ORDER BY binds to the rounded alias,
    so ranking raw here would diverge at ties that straddle the LIMIT
    boundary."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("day_users"),
        F.count("*").cast("bigint").alias("day_events"),
    )
    topk = (
        ev.select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "event_type",
            F.round("value", 6).alias("value"),
            F.to_date("ts").alias("day"),
        )
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(100)
    )
    # the day rollup is ~30 rows — broadcast onto the 100 winners
    return topk.join(F.broadcast(daily), "day").select(
        "event_id", "event_type", "value", "day", "day_users", "day_events"
    )


SQL_TOPK_DAILY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS day_users,
    CAST(COUNT(*) AS BIGINT) AS day_events
  FROM events GROUP BY CAST(ts AS DATE)
),
topk AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
    ROUND(value, 6) AS value, CAST(ts AS DATE) AS day
  FROM events ORDER BY value DESC, event_id ASC LIMIT 100
)
SELECT t.event_id, t.event_type, t.value, t.day, d.day_users, d.day_events
FROM topk t JOIN daily d USING (day)
"""


def q_setops_priority_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators + semi-join (§2.7; merged q_semijoin_order_priority
    in r5 — the 50-entry cap): EXCEPT (customers with URGENT orders but
    no LOW orders), INTERSECT (customers with both), and a LEFT-SEMI
    branch (customers with at least one late-shipped order — the
    inequality-condition EXISTS shape), tagged and unioned into one
    customer-grain result."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").cast("bigint").alias("custkey")
    )
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").cast("bigint").alias("custkey")
    )
    ex = urgent.distinct().subtract(low).select(
        F.lit("except").alias("setop"), "custkey"
    )
    both = urgent.intersect(low).select(
        F.lit("intersect").alias("setop"), "custkey"
    )
    late = (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .select(F.col("o_custkey").cast("bigint").alias("custkey"))
        .distinct()
        .select(F.lit("semijoin_late").alias("setop"), "custkey")
    )
    return ex.unionByName(both).unionByName(late)


SQL_SETOPS = """
SELECT 'except' AS setop, custkey FROM (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
  EXCEPT
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey FROM orders
  WHERE o_orderpriority = '5-LOW')
UNION ALL
SELECT 'intersect' AS setop, custkey FROM (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey FROM orders
  WHERE o_orderpriority = '5-LOW')
UNION ALL
SELECT 'semijoin_late' AS setop, custkey FROM (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey FROM orders o
  WHERE EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate))
"""


def q_join3_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join: lineitem ⋈ supplier ⋈ nation ⋈ region
    — a chain of broadcast dims over the fact table (Catalyst reorders;
    no fact-table shuffle until the final 5-group aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.countDistinct("s_suppkey").cast("bigint").alias("n_suppliers"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


SQL_JOIN3 = """
SELECT r_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_salted_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a skewed low-cardinality key
    (north_rule: explicit salting of skewed keys). Phase 1 groups on
    (key, salt) — spreads each hot key over 16 reducers; phase 2 merges
    the 16 partials. Oracle is the plain GROUP BY: salting must be
    semantics-preserving."""
    from .plans.salting import salted_sum_count

    ev = _t(spark, sf_dir, "events")
    out = salted_sum_count(
        ev,
        keys=["event_type"],
        sums={"total_value": _dec("value", 18, 6)},
        salt_cols=["event_id"],
    )
    return out.select(
        "event_type", "n", F.col("total_value").cast("double").alias("total_value")
    )


SQL_EVENT_AGG = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# extraction operators over raw_docs (SURVEY §2.4–2.6)
# ---------------------------------------------------------------------------


def x1_grounding_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 merged registry entry (same doc grain; 50-entry cap, r5):
    regex scan for grounding spans — per-doc match count + first label
    (run_dpsk_ocr_pdf.py:123-135) — AND the media-vs-layout span
    classification (label == 'image' ⇒ media,
    run_dpsk_ocr_pdf.py:130-134). Both operators fully preserved."""
    df = _raw(spark, sf_dir)
    n_media = F.size(F.regexp_extract_all("raw", F.lit(MEDIA_PAT), 0)).cast("bigint")
    n_total = F.size(F.regexp_extract_all("raw", F.lit(REF_PAT), 0)).cast("bigint")
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n_total.alias("n_spans"),
        F.regexp_extract("raw", REF_PAT, 1).alias("first_label"),
        n_media.alias("n_media"),
        (n_total - n_media).alias("n_layout"),
    )


SQL_X1 = f"""
WITH {RAW_DOCS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(len(regexp_extract_all(raw, '{REF_PAT}')) AS BIGINT) AS n_spans,
  regexp_extract(raw, '{REF_PAT}', 1) AS first_label,
  CAST(len(regexp_extract_all(raw, '{MEDIA_PAT}')) AS BIGINT) AS n_media,
  CAST(len(regexp_extract_all(raw, '{REF_PAT}'))
     - len(regexp_extract_all(raw, '{MEDIA_PAT}')) AS BIGINT) AS n_layout
FROM raw_docs
"""

_BOX_PAT = r"<\|det\|>\[\[(\d+),(\d+),(\d+),(\d+)\]\]<\|/det\|>"


def x3_det_parse_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+X4 merged registry entry (same doc grain; the 50-entry cap of
    rule 16 — merged round 4 to free a slot for d6_dup_clusters): safe
    det-payload parse check PLUS first-box 0–999→pixel rescale in one
    projection. Sort-key note (scan_null_ties):
    doc_id is unique, so the nullable px/py columns never decide a tie."""
    df = _raw(spark, sf_dir)
    dets = F.regexp_extract_all("raw", F.lit(REF_PAT), 2)
    bad = F.filter(dets, lambda d: ~d.rlike(DET_OK_PAT))

    def px(g: int, dim: int):
        v = F.nullif(F.regexp_extract("raw", _BOX_PAT, g), F.lit("")).cast("bigint")
        return F.floor(v / 999 * dim).cast("bigint")

    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(dets).cast("bigint").alias("n_det"),
        F.size(bad).cast("bigint").alias("parse_failures"),
        px(1, 1280).alias("px1"),
        px(2, 1810).alias("py1"),
        px(3, 1280).alias("px2"),
        px(4, 1810).alias("py2"),
    )


SQL_X3B = f"""
WITH {RAW_DOCS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(len(regexp_extract_all(raw, '{REF_PAT}', 2)) AS BIGINT) AS n_det,
  CAST(len(list_filter(regexp_extract_all(raw, '{REF_PAT}', 2),
       d -> NOT regexp_matches(d, '{DET_OK_PAT}'))) AS BIGINT) AS parse_failures,
  CAST(FLOOR(CAST(NULLIF(regexp_extract(raw, '{_BOX_PAT}', 1), '') AS BIGINT) / 999.0 * 1280) AS BIGINT) AS px1,
  CAST(FLOOR(CAST(NULLIF(regexp_extract(raw, '{_BOX_PAT}', 2), '') AS BIGINT) / 999.0 * 1810) AS BIGINT) AS py1,
  CAST(FLOOR(CAST(NULLIF(regexp_extract(raw, '{_BOX_PAT}', 3), '') AS BIGINT) / 999.0 * 1280) AS BIGINT) AS px2,
  CAST(FLOOR(CAST(NULLIF(regexp_extract(raw, '{_BOX_PAT}', 4), '') AS BIGINT) / 999.0 * 1810) AS BIGINT) AS py2
FROM raw_docs
"""


def x5_media_ref_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: media spans numbered in match order per document →
    deterministic media_ref (run_dpsk_ocr_pdf.py:183-190,310-311).
    posexplode keeps match order, so numbering is shuffle-free.

    DOCUMENTED DEGENERATE CASE of x5b (single page, idx ≡ jdx, page 0
    hardcode): kept as a library function + oracle SQL + m1's input,
    but NOT registry-listed — x5b subsumes it and the registry is
    capped at 50 entries (see REGISTRY ordering note)."""
    df = _raw(spark, sf_dir)
    return (
        df.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.posexplode(F.regexp_extract_all("raw", F.lit(MEDIA_PAT), 0)).alias(
                "idx", "block"
            ),
        )
        .select(
            "doc_id",
            F.col("idx").cast("bigint").alias("idx"),
            F.concat(F.lit("images/0_"), F.col("idx").cast("string"), F.lit(".jpg")).alias(
                "media_ref"
            ),
        )
    )


SQL_X5 = f"""
WITH {RAW_DOCS_CTE},
m AS (SELECT doc_id, len(regexp_extract_all(raw, '{MEDIA_PAT}')) AS n FROM raw_docs)
SELECT CAST(m.doc_id AS BIGINT) AS doc_id, CAST(r.range AS BIGINT) AS idx,
  'images/0_' || CAST(r.range AS VARCHAR) || '.jpg' AS media_ref
FROM m, range(0, 4) r WHERE r.range < m.n
"""


def x5b_media_ref_multipage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 in its real multi-page form: jdx advances over KEPT pages only
    (run_dpsk_ocr_pdf.py:285,320 — dropped pages shift the numbering),
    media_ref = images/{jdx}_{idx}.jpg with idx the within-page match
    index. Three synthetic pages per doc; page (doc_id+page_no)%3==0 is
    dropped (the SKIP_REPEAT stand-in — the EOS gate itself is oracled
    by f2). The jdx window is row_number over kept pages per doc — the
    correctness-critical window shape of SURVEY §2.5, driver-checked."""
    df = _raw(spark, sf_dir)
    pages = df.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("page_no"),
        "raw",
    )
    kept = pages.filter(((F.col("doc_id") + F.col("page_no")) % 3) > 0)
    w = Window.partitionBy("doc_id").orderBy("page_no")
    jdx = kept.withColumn("jdx", F.row_number().over(w) - 1)
    media = jdx.select(
        "doc_id",
        "page_no",
        "jdx",
        F.posexplode(F.regexp_extract_all("raw", F.lit(MEDIA_PAT), 0)).alias(
            "idx", "block"
        ),
    )
    return media.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("page_no").cast("bigint").alias("page_no"),
        F.col("jdx").cast("bigint").alias("jdx"),
        F.col("idx").cast("bigint").alias("idx"),
        F.concat(
            F.lit("images/"),
            F.col("jdx").cast("string"),
            F.lit("_"),
            F.col("idx").cast("string"),
            F.lit(".jpg"),
        ).alias("media_ref"),
    )


SQL_X5B = f"""
WITH {RAW_DOCS_CTE},
pages AS (
  SELECT doc_id, r.range AS page_no, raw FROM raw_docs CROSS JOIN range(0, 3) r
),
kept AS (
  SELECT doc_id, page_no, raw,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY page_no) - 1 AS jdx
  FROM pages WHERE (doc_id + page_no) % 3 > 0
),
m AS (
  SELECT doc_id, page_no, jdx,
         len(regexp_extract_all(raw, '{MEDIA_PAT}')) AS n
  FROM kept
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(page_no AS BIGINT) AS page_no,
  CAST(jdx AS BIGINT) AS jdx, CAST(r.range AS BIGINT) AS idx,
  'images/' || CAST(jdx AS VARCHAR) || '_' || CAST(r.range AS VARCHAR)
    || '.jpg' AS media_ref
FROM m, range(0, 4) r WHERE r.range < m.n
"""


def x6_clean_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6+X7+F3+T1+T2+T4 composed: EOS strip → media rewrite → layout
    strip → LaTeX normalize → <center> strip → blank-line collapse
    (run_dpsk_ocr_pdf.py:289-314; run_dpsk_ocr_eval_batch.py:154-156)."""
    df = _raw(spark, sf_dir)
    c = F.replace(F.col("raw"), F.lit(EOS_SENTINEL), F.lit(""))
    c = F.regexp_replace(c, MEDIA_PAT, "![](media)\n")
    c = F.regexp_replace(c, REF_PAT, "")
    c = F.replace(c, F.lit("\\coloneqq"), F.lit(":="))
    c = F.replace(c, F.lit("\\eqqcolon"), F.lit("=:"))
    c = F.replace(c, F.lit("<center>"), F.lit(""))
    c = F.replace(c, F.lit("</center>"), F.lit(""))
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        c.alias("clean"),
        F.length(c).cast("bigint").alias("char_yield"),
    )


SQL_X6 = f"""
WITH {RAW_DOCS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  regexp_replace(
    replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(replace(raw, '{EOS_SENTINEL}', ''),
                       '{MEDIA_PAT}', '![](media)' || chr(10), 'g'),
        '{REF_PAT}', '', 'g'),
      '\\coloneqq', ':='), '\\eqqcolon', '=:'), '<center>', ''), '</center>', ''),
    '\\n{{3,}}', chr(10) || chr(10), 'g') AS clean,
  CAST(length(regexp_replace(
    replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(replace(raw, '{EOS_SENTINEL}', ''),
                       '{MEDIA_PAT}', '![](media)' || chr(10), 'g'),
        '{REF_PAT}', '', 'g'),
      '\\coloneqq', ':='), '\\eqqcolon', '=:'), '<center>', ''), '</center>', ''),
    '\\n{{3,}}', chr(10) || chr(10), 'g')) AS BIGINT) AS char_yield
FROM raw_docs
"""


# S7 extra: one multi-box image ref appended to doc_id % 7 == 0 docs so
# the PAGE-LEVEL box counter (draw semantics, run_dpsk_ocr_pdf.py:163,
# 186-190) is exercised where it diverges from the per-match counter.
_S7_MULTIBOX = "<|ref|>image<|/ref|><|det|>[[1,2,3,4],[5, 6, 7, 8]]<|/det|>"
_S7_BOX_PAT = r"\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]"
# s7 oracle fan-out caps, DERIVED from the injections above (ADVICE r3):
# refs/page ≤ title(1) + img×2 (%4, %6) + malformed(%13) + multibox(%7)
# = 5; boxes/det ≤ 2 (the multibox). The Spark operator is uncapped —
# these bound only the oracle's range() unnests, and s7's registry query
# raise_error's if the corpus ever exceeds them so a violation fails
# loudly instead of as a silent oracle row drop.
_S7_MAX_REFS = 8
_S7_MAX_BOXES = 4


def s7_annotation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: annotated-layout sink as a draw-plan table — per kept page,
    per ref, per box: pixel rect, outline width, deterministic color,
    label anchor, page-level image counter + crop path
    (run_dpsk_ocr_pdf.py:151-215). Rasterization is the gated PIL kernel
    (operators/annotate.py); the plan itself is the data product."""
    from .operators.annotate import annotation_plan

    pages = _raw(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit(0).cast("bigint").alias("page_no"),
        F.concat(
            F.col("raw"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_S7_MULTIBOX)).otherwise(
                F.lit("")
            ),
        ).alias("content"),
    )
    # oracle fan-out caps must hold or the gate fails obscurely (see
    # _S7_MAX_REFS derivation): fail loudly at the source instead
    n_refs = F.size(F.regexp_extract_all("content", F.lit(REF_PAT), 1))
    max_boxes = F.array_max(
        F.transform(
            F.regexp_extract_all("content", F.lit(REF_PAT), 2),
            lambda d: F.size(F.regexp_extract_all(d, F.lit(_S7_BOX_PAT), 0)),
        )
    )
    ok = (n_refs <= _S7_MAX_REFS) & (
        F.coalesce(max_boxes, F.lit(0)) <= _S7_MAX_BOXES
    )
    pages = pages.withColumn(
        "content",
        F.when(ok, F.col("content")).otherwise(
            F.raise_error(
                F.lit(
                    f"s7 corpus page exceeds _S7_MAX_REFS={_S7_MAX_REFS} "
                    f"refs or _S7_MAX_BOXES={_S7_MAX_BOXES} boxes/det — "
                    "raise the oracle caps with it"
                )
            )
        ),
    )
    plan = annotation_plan(pages, image_w=1280, image_h=1810)
    return plan.select(
        "doc_id",
        F.col("jdx").cast("int").alias("jdx"),
        F.col("ref_idx").cast("int").alias("ref_idx"),
        F.col("box_idx").cast("int").alias("box_idx"),
        "label",
        "x1",
        "y1",
        "x2",
        "y2",
        "outline_width",
        "fill_alpha",
        "color_r",
        "color_g",
        "color_b",
        # driver-gate projection: the operator models non-image rows as
        # NULL (faithful); the registry emits -1/'' sentinels so the
        # order-insensitive compare never has to ORDER mixed None/str
        # ties (color collisions can tie rows through to these columns)
        F.coalesce(F.col("img_idx").cast("bigint"), F.lit(-1)).alias("img_idx"),
        "label_x",
        "label_y",
        F.coalesce("crop_path", F.lit("")).alias("crop_path"),
    )


def _sql_s7() -> str:
    b = _S7_BOX_PAT

    def px(grp: int, dim: int) -> str:
        return (
            f"CAST(FLOOR(CAST(regexp_extract(box, '{b}', {grp}) AS BIGINT)"
            f" / 999.0 * {dim}) AS BIGINT)"
        )

    return f"""
WITH {RAW_DOCS_CTE},
pages AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    replace(raw || CASE WHEN doc_id % 7 = 0 THEN '{_S7_MULTIBOX}' ELSE '' END,
            '{EOS_SENTINEL}', '') AS c
  FROM raw_docs WHERE contains(raw, '{EOS_SENTINEL}')
),
refs AS (
  SELECT doc_id, CAST(r.range AS INTEGER) AS ref_idx,
    regexp_extract_all(c, '{REF_PAT}', 1)[CAST(r.range AS INTEGER) + 1] AS label,
    regexp_extract_all(c, '{REF_PAT}', 2)[CAST(r.range AS INTEGER) + 1] AS det
  FROM pages, range(0, {_S7_MAX_REFS}) r
  WHERE r.range < len(regexp_extract_all(c, '{REF_PAT}', 1))
),
boxes AS (
  SELECT doc_id, ref_idx, label, CAST(bx.range AS INTEGER) AS box_idx,
    regexp_extract_all(det, '{b}')[CAST(bx.range AS INTEGER) + 1] AS box
  FROM refs, range(0, {_S7_MAX_BOXES}) bx
  WHERE bx.range < len(regexp_extract_all(det, '{b}'))
),
px AS (
  SELECT doc_id, CAST(0 AS INTEGER) AS jdx, ref_idx, box_idx, label,
    {px(1, 1280)} AS x1, {px(2, 1810)} AS y1,
    {px(3, 1280)} AS x2, {px(4, 1810)} AS y2,
    CAST(CASE WHEN label = 'title' THEN 4 ELSE 2 END AS INTEGER) AS outline_width,
    CAST(20 AS INTEGER) AS fill_alpha,
    md5(CAST(doc_id AS VARCHAR) || ':0:' || CAST(ref_idx AS VARCHAR)) AS h,
    CASE WHEN label = 'image' THEN
      CAST(SUM(CASE WHEN label = 'image' THEN 1 ELSE 0 END) OVER (
        PARTITION BY doc_id ORDER BY ref_idx, box_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1
    END AS img_idx
  FROM boxes
)
SELECT doc_id, jdx, ref_idx, box_idx, label, x1, y1, x2, y2,
  outline_width, fill_alpha,
  CAST(CAST(('0x' || substr(h, 1, 2)) AS INTEGER) % 200 AS INTEGER) AS color_r,
  CAST(CAST(('0x' || substr(h, 3, 2)) AS INTEGER) % 200 AS INTEGER) AS color_g,
  CAST(CAST(('0x' || substr(h, 5, 2)) AS INTEGER) % 255 AS INTEGER) AS color_b,
  COALESCE(img_idx, -1) AS img_idx,
  x1 AS label_x,
  GREATEST(0, y1 - 15) AS label_y,
  COALESCE(CASE WHEN img_idx IS NOT NULL THEN
    'images/0_' || CAST(img_idx AS VARCHAR) || '.jpg' END, '') AS crop_path
FROM px
"""


def s8_geometry_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: geometry-plot sink as the parsed elements table
    (run_dpsk_ocr_image.py:250-300 re-plot loop). Payloads are built as
    a pure function of doc_id in the reference's single-quoted dict
    shape — three variants: full Line+Circle; Line-heavy with a 3-part
    segment, a zip-truncated second line (line_type has one entry —
    reference drops the tail lines via the in-try IndexError) and a junk
    entry (bare-except skip); and a malformed payload with no
    'line_type' substring (the reference's dispatch gate — zero
    elements, never an error)."""
    from .operators.annotate import geometry_elements

    d = F.col("doc_id")
    a, b_ = d % 90, (d * 3) % 90
    c, e = a + 10, b_ + 20
    r = d % 50
    full = F.format_string(
        "{'Line': {'line': ['(%d, %d) -- (%d, %d)', '(%d, %d) -- (%d, %d)'],"
        " 'line_type': ['--', '-'],"
        " 'line_endpoint': ['A: (%d, %d)', 'B: (%d, %d)']},"
        " 'Circle': {'circle_center': ['O: (%d, %d)'], 'radius': [%d]}}",
        a, b_, c, e, b_, a, e, c, a, b_, c, e, a, e, r,
    )
    line_only = F.format_string(
        "{'Line': {'line': ['(%d, %d) -- (55, 55) -- (%d, %d)',"
        " '(%d, %d) -- (%d, %d)', 'garbage'], 'line_type': ['-'],"
        " 'line_endpoint': ['P: (%d, %d)']}}",
        a, b_, c, e, a, a, b_, b_, b_, e,
    )
    docs = _t(spark, sf_dir, "documents").select(
        d.cast("bigint").alias("doc_id"),
        F.when(d % 3 == 0, full)
        .when(d % 3 == 1, line_only)
        .otherwise(F.lit("not a geometry payload"))
        .alias("geometry"),
    )
    out = geometry_elements(docs)
    return out.select(
        "doc_id",
        "kind",
        F.col("idx").cast("int").alias("idx"),
        "x0",
        "y0",
        "x1",
        "y1",
        "label",
        "style",
        "radius",
    )


SQL_S8 = """
WITH v AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 3 AS variant,
    CAST(doc_id % 90 AS DOUBLE) AS a, CAST((doc_id * 3) % 90 AS DOUBLE) AS b,
    CAST(doc_id % 90 + 10 AS DOUBLE) AS c, CAST((doc_id * 3) % 90 + 20 AS DOUBLE) AS e,
    CAST(doc_id % 50 AS DOUBLE) AS r
  FROM documents
)
SELECT doc_id, 'line' AS kind, CAST(0 AS INTEGER) AS idx,
  a AS x0, b AS y0, c AS x1, e AS y1,
  CAST(NULL AS VARCHAR) AS label, '--' AS style, CAST(NULL AS DOUBLE) AS radius
FROM v WHERE variant = 0
UNION ALL
SELECT doc_id, 'line', 1, b, a, e, c, NULL, '-', NULL FROM v WHERE variant = 0
UNION ALL
SELECT doc_id, 'endpoint', 0, a, b, NULL, NULL, 'A', NULL, NULL FROM v WHERE variant = 0
UNION ALL
SELECT doc_id, 'endpoint', 1, c, e, NULL, NULL, 'B', NULL, NULL FROM v WHERE variant = 0
UNION ALL
SELECT doc_id, 'circle', 0, a, e, NULL, NULL, 'O', NULL, r FROM v WHERE variant = 0
UNION ALL
-- variant 1: line 1 zip-truncated (line_type has one entry), 'garbage'
-- parse-skipped; only the 3-part line 0 and endpoint P survive
SELECT doc_id, 'line', 0, a, b, c, e, NULL, '-', NULL FROM v WHERE variant = 1
UNION ALL
SELECT doc_id, 'endpoint', 0, b, e, NULL, NULL, 'P', NULL, NULL FROM v WHERE variant = 1
"""


def f2_eos_page_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (SKIP_REPEAT): docs lacking the EOS sentinel are dropped; F3:
    sentinel stripped from the kept ones (run_dpsk_ocr_pdf.py:289-293)."""
    df = _raw(spark, sf_dir)
    return (
        df.filter(F.contains(F.col("raw"), F.lit(EOS_SENTINEL)))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.length(F.replace(F.col("raw"), F.lit(EOS_SENTINEL), F.lit("")))
            .cast("bigint")
            .alias("kept_len"),
        )
    )


SQL_F2 = f"""
WITH {RAW_DOCS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(length(replace(raw, '{EOS_SENTINEL}', '')) AS BIGINT) AS kept_len
FROM raw_docs WHERE contains(raw, '{EOS_SENTINEL}')
"""


_F1_SPIN = " spin spin loop spin spin loop spin spin loop"
_F1_TD = " <td> cell </td> <td> cell </td> <td> cell </td>"


def f1_ngram_ban(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 faithful: windowed no-repeat-ngram ban positions
    (process/ngram_norepeat.py:18-40 semantics, detection form) with the
    <td>/</td> whitelist (ngram_norepeat.py:33). Degenerate repetition
    loops + whitelisted table markup are injected as pure functions of
    doc_id so every branch (in-window ban, whitelist pass) is exercised;
    params (3, 25) scale the reference's (20, 50) shape down to the
    synthetic corpus' sentence lengths."""
    from .operators.ngram_ban import ngram_ban_flags

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.lit(_F1_SPIN)).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.lit(_F1_TD)).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = ngram_ban_flags(docs, ngram_size=3, window_size=25)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "pos", "token"
    )


# shared by SQL_F1 and SQL_F1B — a one-sided edit to the ngram identity
# would silently desynchronize the two oracles (the _CUT_SQL pattern)
_F1_CTES = rf"""aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 7 = 0 THEN ' {_F1_SPIN.strip()}' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' {_F1_TD.strip()}' ELSE '' END
    AS text
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(text, '\s+'), 1) AS ord
  FROM aug
),
ng AS (
  SELECT a.doc_id, a.ord AS start,
         a.tok || chr(31) || b.tok || chr(31) || c.tok AS ng, c.tok AS last_tok
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
)"""

SQL_F1 = rf"""
WITH {_F1_CTES}
SELECT DISTINCT CAST(j.doc_id AS BIGINT) AS doc_id,
  CAST(j.start + 1 AS BIGINT) AS pos, j.last_tok AS token
FROM ng i JOIN ng j ON i.doc_id = j.doc_id AND i.ng = j.ng
  AND j.start - i.start BETWEEN 1 AND 23
WHERE j.last_tok NOT IN ('<td>', '</td>')
"""


def f1b_ngram_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 suppression composition: same augmented corpus and (3, 25)
    params as f1_ngram_ban, with banned tokens REMOVED and the
    remainder re-joined — the detect→drop cleaning pass (token-level
    view; whitespace runs not preserved)."""
    from .operators.ngram_ban import apply_ngram_ban

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.lit(_F1_SPIN)).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.lit(_F1_TD)).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = apply_ngram_ban(docs, ngram_size=3, window_size=25)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "clean_text",
        "n_kept",
        "n_banned",
    )


SQL_F1B = rf"""
WITH {_F1_CTES},
banned AS (
  SELECT DISTINCT j.doc_id, j.start + 1 AS pos
  FROM ng i JOIN ng j ON i.doc_id = j.doc_id AND i.ng = j.ng
    AND j.start - i.start BETWEEN 1 AND 23
  WHERE j.last_tok NOT IN ('<td>', '</td>')
),
kept AS (
  SELECT t.doc_id, t.ord, t.tok
  FROM toks t
  LEFT JOIN banned b ON b.doc_id = t.doc_id AND b.pos = t.ord - 1
  WHERE b.doc_id IS NULL
),
nb AS (SELECT doc_id, COUNT(*) AS n_banned FROM banned GROUP BY doc_id)
SELECT CAST(k.doc_id AS BIGINT) AS doc_id,
  string_agg(k.tok, ' ' ORDER BY k.ord) AS clean_text,
  CAST(COUNT(*) AS BIGINT) AS n_kept,
  CAST(MAX(COALESCE(nb.n_banned, 0)) AS BIGINT) AS n_banned
FROM kept k LEFT JOIN nb ON nb.doc_id = k.doc_id
GROUP BY k.doc_id
"""


def t5_page_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: per-DOC ordered page concatenation (the page-split join of
    run_dpsk_ocr_pdf.py:296-298). Keyed on doc_id — group size is
    bounded by pages-per-doc, so the sort-agg is scale-safe (VERDICT r1
    #7: the former source-keyed variant built ~20 corpus-sized strings).
    Pages are synthesized as fixed character windows of each doc."""
    df = _t(spark, sf_dir, "documents")
    pages = df.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.substring("text", 1, 80),
                F.substring("text", 81, 80),
                F.expr("substring(text, 161)"),
            )
        ).alias("page_no", "content"),
    )
    return pages.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("page_no", "content"))),
                lambda s: s["content"],
            ),
            PAGE_SEP,
        ).alias("doc_text"),
        F.count("*").cast("bigint").alias("n_pages"),
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "doc_text", "n_pages"
    )


SQL_T5 = f"""
WITH pages AS (
  SELECT doc_id, 0 AS page_no, substr(text, 1, 80) AS content FROM documents
  UNION ALL
  SELECT doc_id, 1 AS page_no, substr(text, 81, 80) AS content FROM documents
  UNION ALL
  SELECT doc_id, 2 AS page_no, substr(text, 161) AS content FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  string_agg(content, '{PAGE_SEP}' ORDER BY page_no) AS doc_text,
  CAST(COUNT(*) AS BIGINT) AS n_pages
FROM pages GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# text analysis / dedup / embeddings (training-data pipeline ops)
# ---------------------------------------------------------------------------


def c1_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus-cleaning pass (C4/Gopher-style): per-doc quality
    gates (token count, mean word length, stopword presence) + exact-
    dedup canonical selection, in ONE relational program — the
    composition a training-data pipeline actually runs before
    tokenization. All gates are column expressions; the canonical pick
    is a min-over-digest window (shuffle key = fixed-width md5, never
    the text)."""
    df = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    base = df.select("doc_id", "text", toks.alias("toks"))
    n = F.size("toks")
    sum_wlen = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    mean_wlen = F.round(sum_wlen.cast("double") / n.cast("double"), 6)
    n_stop = F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS)))
    stop_ratio = F.round(n_stop.cast("double") / n.cast("double"), 6)
    feat = base.select(
        "doc_id",
        "text",
        n.cast("bigint").alias("n_tokens"),
        mean_wlen.alias("mean_wlen"),
        stop_ratio.alias("stop_ratio"),
    )
    # canonical pick via groupBy + join-back, NOT a window over the
    # digest: a window buffers each digest group whole in one task with
    # no partial aggregation, and AQE cannot split a window exchange —
    # at corpus scale one boilerplate page duplicated 10^8 times is a
    # stalled executor. The aggregate gets map-side combine (tiny
    # fixed-width rows) and the join-back is AQE-skew-splittable.
    # Join key coalesced so NULL-text rows keep window semantics (one
    # group) instead of falling out of the inner join; md5('') never
    # equals '' so there is no collision with empty text.
    digested = feat.withColumn(
        "_digest", F.coalesce(F.md5("text"), F.lit(""))
    )
    canon_min = digested.groupBy("_digest").agg(
        F.min("doc_id").alias("_canon_doc")
    )
    canon = digested.join(canon_min, "_digest").withColumn(
        "is_canonical", F.col("doc_id") == F.col("_canon_doc")
    )
    quality_ok = (
        (F.col("n_tokens") >= 5)
        & (F.col("n_tokens") <= 10000)
        & (F.col("mean_wlen") >= 2.0)
        & (F.col("mean_wlen") <= 12.0)
        & (F.col("stop_ratio") >= 0.01)
    )
    return canon.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "mean_wlen",
        "stop_ratio",
        quality_ok.alias("quality_ok"),
        "is_canonical",
        (quality_ok & F.col("is_canonical")).alias("kept"),
    )


SQL_C1 = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(text), '\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
    ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE), 6) AS mean_wlen,
    ROUND(CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio
  FROM t
),
canon AS (
  SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM feat
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  mean_wlen, stop_ratio,
  (n_tokens BETWEEN 5 AND 10000 AND mean_wlen BETWEEN 2.0 AND 12.0
   AND stop_ratio >= 0.01) AS quality_ok,
  is_canonical,
  (n_tokens BETWEEN 5 AND 10000 AND mean_wlen BETWEEN 2.0 AND 12.0
   AND stop_ratio >= 0.01 AND is_canonical) AS kept
FROM canon
"""


def a1_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite in one per-doc pass — merged a1+a4 (r3) and
    now a2+a3 as well (r5, 50-entry cap freed for the curation layer;
    every column of all four operators preserved at the same doc grain).

    Token counting + fingerprinting: whitespace, regex word, and BPE-ish
    segment counts; fp = md5 over a normalized prefix (rolling-hash
    class) with group size and canonical member via a window over fp.
    Quality: length + stopword-ratio block features (jusText-style,
    north_star). Lang-ID: stopword-hit ratio on lowercased \\s+ tokens +
    non-ASCII fraction (n-gram heuristic class; scoring only — corpus
    text is synthetic). ws_tokens doubles as the former a2 n_tokens
    (identical definition)."""
    df = _t(spark, sf_dir, "documents")
    fp = F.md5(F.substring(F.regexp_replace("text", r"[^a-z0-9 ]", ""), 1, 64))
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    ltoks = F.split(F.lower("text"), r"\s+")
    ln_tok = F.size(ltoks).cast("double")
    hits = F.size(F.filter(ltoks, lambda t: t.isin(*STOPWORDS))).cast("double")
    ratio = F.round(hits / F.nullif(ln_tok, F.lit(0.0)), 6)
    non_ascii = F.length(F.regexp_replace("text", r"[\x00-\x7F]", ""))
    base = df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z0-9]+"), 0))
        .cast("bigint")
        .alias("word_tokens"),
        # BPE-ish segmentation: leading-space word pieces, digit runs,
        # punctuation runs, whitespace runs (GPT-2 pattern family,
        # RE2/Java-portable subset; single source: tiling.BPE_PAT,
        # shared with p4's text_tokens so both report the same estimate)
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0))
        .cast("bigint")
        .alias("bpe_tokens"),
        fp.alias("fp"),
        F.round(n_stop / F.nullif(n_tok, F.lit(0.0)), 6).alias("stop_ratio"),
        (F.col("n_chars") >= 200).alias("len_ok"),
        "lang",
        ratio.alias("stop_hit_ratio"),
        non_ascii.cast("bigint").alias("non_ascii_chars"),
        F.when(non_ascii > 0, "non_latin")
        .when(ratio >= 0.05, "en_like")
        .otherwise("unknown")
        .alias("predicted"),
    )
    # group stats via groupBy + join-back, not a window over fp (same
    # skew rationale as c1: partial aggregation + AQE-splittable join
    # vs an unsplittable whole-group window task). NULL fp (NULL text)
    # joins through a coalesced key, matching the window's one-NULL-
    # partition semantics; fp itself stays NULL in the output.
    keyed = base.withColumn("_fpk", F.coalesce(F.col("fp"), F.lit("")))
    fp_stats = keyed.groupBy("_fpk").agg(
        F.count("*").cast("bigint").alias("n_docs_fp"),
        F.min("doc_id").cast("bigint").alias("canonical_doc"),
    )
    return keyed.join(fp_stats, "_fpk").drop("_fpk")


_SW = "('" + "','".join(STOPWORDS) + "')"
SQL_A1 = rf"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS word_tokens,
    CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS bpe_tokens,
    md5(substr(regexp_replace(text, '[^a-z0-9 ]', '', 'g'), 1, 64)) AS fp,
    ROUND(CAST(len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS DOUBLE)
          / NULLIF(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.0), 6) AS stop_ratio,
    n_chars >= 200 AS len_ok,
    lang,
    ROUND(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
          t -> t IN {_SW})) AS DOUBLE)
      / NULLIF(CAST(len(regexp_split_to_array(lower(text), '\s+')) AS DOUBLE), 0.0), 6)
      AS stop_hit_ratio,
    CAST(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS BIGINT) AS non_ascii_chars,
    CASE WHEN length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) > 0 THEN 'non_latin'
         WHEN ROUND(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
              t -> t IN {_SW})) AS DOUBLE)
           / NULLIF(CAST(len(regexp_split_to_array(lower(text), '\s+')) AS DOUBLE), 0.0), 6) >= 0.05
         THEN 'en_like' ELSE 'unknown' END AS predicted
  FROM documents
)
SELECT *,
  CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_docs_fp,
  CAST(MIN(doc_id) OVER (PARTITION BY fp) AS BIGINT) AS canonical_doc
FROM base
"""


def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on a normalized key; emits duplicate
    groups with the canonical (min) doc_id. At 100 TB: group on
    md5(full text) — constant-size shuffle keys regardless of doc size."""
    df = _t(spark, sf_dir, "documents")
    key = F.md5(F.substring("text", 1, 40))
    return (
        df.groupBy(key.alias("dup_key"))
        .agg(
            F.count("*").cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
        )
        .filter(F.col("n_dups") > 1)
    )


SQL_D1 = """
SELECT md5(substr(text, 1, 40)) AS dup_key,
  CAST(COUNT(*) AS BIGINT) AS n_dups,
  CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# T3 formula cleaner, T6 span search
# ---------------------------------------------------------------------------


def t3_formula_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: inside \\[...\\] formula blocks, drop \\quad(...) annotations
    and trim (run_dpsk_ocr_eval_batch.py:53-68). JVM regex chain; the
    faithful function-valued-replacement UDF is equivalence-tested in
    tests/."""
    from .operators.textnorm import clean_formula_expr

    d = F.col("doc_id")
    df = _t(spark, sf_dir, "documents").withColumn(
        "with_formula",
        F.concat(
            F.col("text"),
            F.when(
                d % 2 == 0, F.lit(" \\[ E = mc^2 \\quad (4) \\]")
            ).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit(" \\[  x + y \\quad (12)  \\]")).otherwise(
                F.lit("")
            ),
        ),
    )
    return df.select(
        d.cast("bigint").alias("doc_id"),
        clean_formula_expr(F.col("with_formula")).alias("cleaned"),
    )


SQL_T3 = r"""
WITH wf AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 2 = 0 THEN ' \[ E = mc^2 \quad (4) \]' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' \[  x + y \quad (12)  \]' ELSE '' END
    AS with_formula
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  regexp_replace(
    regexp_replace(with_formula, '\\quad\s*\([^)\]]*\)', '', 'g'),
    '(?s)\\\[\s*(.*?)\s*\\\]', '\\[\1\\]', 'g') AS cleaned
FROM wf
"""


def t6_locate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 'Locate <|ref|>...<|/ref|>' prompt semantics: span search —
    filter grounding spans by label, return their det payloads
    (config.py:27-36 locate prompt → filter on span arrays)."""
    df = _raw(spark, sf_dir)
    labels = F.regexp_extract_all("raw", F.lit(REF_PAT), 1)
    dets = F.regexp_extract_all("raw", F.lit(REF_PAT), 2)
    hits = F.filter(
        F.zip_with(
            labels, dets, lambda l, d: F.struct(l.alias("l"), d.alias("d"))
        ),
        lambda s: s["l"] == "title",
    )
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.transform(hits, lambda s: s["d"])).alias("det"),
    )


SQL_T6 = f"""
WITH {RAW_DOCS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  unnest(list_transform(
    list_filter(list_zip(regexp_extract_all(raw, '{REF_PAT}', 1),
                         regexp_extract_all(raw, '{REF_PAT}', 2)),
                s -> s[1] = 'title'),
    s -> s[2])) AS det
FROM raw_docs
"""


# ---------------------------------------------------------------------------
# tile-grid planner + token budget (P1/P3/P7) and language-ID
# ---------------------------------------------------------------------------


def p1_tile_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio grid selection + closed-form vision-token budget over
    synthetic page dimensions (width/height pure functions of doc_id)."""
    from .operators.tiling import plan_grid

    pages = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (320 + F.col("doc_id") % 2560).cast("bigint").alias("width"),
        (240 + (F.col("doc_id") * 7) % 1920).cast("bigint").alias("height"),
    )
    return plan_grid(pages).select(
        "doc_id",
        "width",
        "height",
        F.col("w_tiles").cast("bigint").alias("w_tiles"),
        F.col("h_tiles").cast("bigint").alias("h_tiles"),
        F.col("n_tiles").cast("bigint").alias("n_tiles"),
        "vision_tokens",
    )


def _grids_values() -> str:
    from .operators.tiling import CANDIDATE_GRIDS

    return ", ".join(f"({w}, {h})" for (w, h) in CANDIDATE_GRIDS)


def _sql_p1() -> str:
    from .operators.tiling import GLOBAL_TOKENS, IMAGE_SIZE, Q_TILE

    # small bypass budget = global view only (crop [1,1] ⇒ local 0,
    # deepseek_ocr.py:79-80) — same constant plan_grid emits
    small_tok = GLOBAL_TOKENS
    return f"""
WITH pages AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CAST(320 + doc_id % 2560 AS BIGINT) AS width,
    CAST(240 + (doc_id * 7) % 1920 AS BIGINT) AS height
  FROM documents
),
grids(gw, gh) AS (VALUES {_grids_values()}),
ranked AS (
  SELECT p.*, g.gw, g.gh,
    ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY
      ABS(CAST(p.width AS DOUBLE) / CAST(p.height AS DOUBLE)
          - CAST(g.gw AS DOUBLE) / CAST(g.gh AS DOUBLE)) ASC,
      g.gw * g.gh DESC, g.gw ASC) AS rk
  FROM pages p CROSS JOIN grids g
)
SELECT doc_id, width, height,
  CAST(CASE WHEN width <= {IMAGE_SIZE} AND height <= {IMAGE_SIZE} THEN 1 ELSE gw END AS BIGINT) AS w_tiles,
  CAST(CASE WHEN width <= {IMAGE_SIZE} AND height <= {IMAGE_SIZE} THEN 1 ELSE gh END AS BIGINT) AS h_tiles,
  CAST(CASE WHEN width <= {IMAGE_SIZE} AND height <= {IMAGE_SIZE} THEN 1 ELSE gw * gh END AS BIGINT) AS n_tiles,
  CAST(CASE WHEN width <= {IMAGE_SIZE} AND height <= {IMAGE_SIZE} THEN {small_tok}
       ELSE ({Q_TILE} * gw + 1) * ({Q_TILE} * gh) + {GLOBAL_TOKENS} END AS BIGINT) AS vision_tokens
FROM ranked WHERE rk = 1
"""


def p2_dynamic_tiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 dynamic tiling: resize page to (640·w, 640·h), emit one row
    per crop tile in row-major order with its pixel box
    (image_process.py:45-83 dynamic_preprocess) — the partitioned-scan-
    with-deterministic-split-points analogue. Carries the full P1 grid
    plan (width/height/w_tiles/h_tiles/n_tiles/vision_tokens, repeated
    per tile) so one gate row verifies P1+P2+P3 together — every page
    appears (the P3 small-image bypass plans exactly 1 tile)."""
    from .operators.tiling import IMAGE_SIZE

    planned = p1_tile_planner(spark, sf_dir)
    tiles = planned.select(
        "doc_id",
        "width",
        "height",
        "w_tiles",
        "h_tiles",
        "n_tiles",
        "vision_tokens",
        F.posexplode(
            F.sequence(F.lit(0), (F.col("n_tiles") - 1).cast("int"))
        ).alias("tile_id", "_t"),
    )
    i = (F.col("tile_id") % F.col("w_tiles")).cast("bigint")
    j = F.floor(F.col("tile_id") / F.col("w_tiles")).cast("bigint")
    return tiles.select(
        "doc_id",
        "width",
        "height",
        "w_tiles",
        "h_tiles",
        "n_tiles",
        "vision_tokens",
        F.col("tile_id").cast("bigint").alias("tile_id"),
        (i * IMAGE_SIZE).alias("tx1"),
        (j * IMAGE_SIZE).alias("ty1"),
        ((i + 1) * IMAGE_SIZE).alias("tx2"),
        ((j + 1) * IMAGE_SIZE).alias("ty2"),
    )


def _sql_p2() -> str:
    from .operators.tiling import IMAGE_SIZE, MAX_CROPS

    # fan-out bound derived from the config constant — a raised
    # MAX_CROPS must widen the oracle's range too, or the gate would
    # silently drop the extra tiles from the expected rows
    return f"""
WITH p1 AS ({_sql_p1()})
SELECT doc_id, width, height, w_tiles, h_tiles, n_tiles, vision_tokens,
  CAST(r.range AS BIGINT) AS tile_id,
  CAST((r.range % w_tiles) * {IMAGE_SIZE} AS BIGINT) AS tx1,
  CAST((r.range // w_tiles) * {IMAGE_SIZE} AS BIGINT) AS ty1,
  CAST((r.range % w_tiles + 1) * {IMAGE_SIZE} AS BIGINT) AS tx2,
  CAST((r.range // w_tiles + 1) * {IMAGE_SIZE} AS BIGINT) AS ty2
FROM p1, range(0, {MAX_CROPS + 1}) r WHERE r.range < n_tiles
"""


def p5_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 tensor normalize ((x/255 − mean)/std, mean=std=0.5 —
    image_process.py:89-108) applied element-wise to the embedding array
    via transform(); emits leading components + sequential-fold sum."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.transform(
        "embedding",
        lambda x: (x.cast("double") / 255.0 - 0.5) / 0.5,
    )
    df = emb.withColumn("_n", norm)
    return df.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        *[F.round(F.col("_n")[i], 6).alias(f"n{i}") for i in range(4)],
        F.round(
            F.aggregate(
                "_n", F.lit(0.0).cast("double"), lambda acc, x: acc + x
            ),
            6,
        ).alias("norm_sum"),
    )


SQL_P5 = """
WITH n AS (
  SELECT vec_id,
    list_transform(embedding, x -> (CAST(x AS DOUBLE) / 255.0 - 0.5) / 0.5) AS nv
  FROM embeddings
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
  ROUND(nv[1], 6) AS n0, ROUND(nv[2], 6) AS n1,
  ROUND(nv[3], 6) AS n2, ROUND(nv[4], 6) AS n3,
  ROUND(list_sum(nv), 6) AS norm_sum
FROM n
"""


def p4_pad_token_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P6 composed: global-view pad geometry (ImageOps.pad
    contain-then-center arithmetic, image_process.py:386-387) and the
    interleaved token-layout table (tokenize-with-images,
    image_process.py:330-470), exploded to one row per token segment.
    Zero shuffle end to end: pad geometry, grid argmin (candidate fold),
    token counts, and segment offsets are all pure column expressions."""
    from .operators.tiling import pad_plan, token_layout

    pages = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (320 + F.col("doc_id") % 2560).cast("bigint").alias("width"),
        (240 + (F.col("doc_id") * 7) % 1920).cast("bigint").alias("height"),
        "text",
    )
    laid = token_layout(pad_plan(pages), text_col="text")
    return laid.select(
        "doc_id",
        "width",
        "height",
        "content_w",
        "content_h",
        "pad_left",
        "pad_top",
        "pad_right",
        "pad_bottom",
        "scale",
        "fill_r",
        "w_tiles",
        "h_tiles",
        "image_tokens",
        "text_tokens",
        "seq_len",
        F.explode("segments").alias("_s"),
    ).select(
        *[
            c
            for c in (
                "doc_id width height content_w content_h pad_left pad_top "
                "pad_right pad_bottom scale fill_r w_tiles h_tiles "
                "image_tokens text_tokens seq_len"
            ).split()
        ],
        F.col("_s.kind").alias("kind"),
        F.col("_s.start").alias("seg_start"),
        F.col("_s.len").alias("seg_len"),
        F.col("_s.is_image").alias("is_image"),
    )


def _sql_p4() -> str:
    from .operators.tiling import (
        BASE_SIZE,
        BPE_PAT,
        GLOBAL_TOKENS,
        IMAGE_SIZE,
        PAD_FILL,
        Q_TILE,
    )

    bpe = BPE_PAT  # single source of truth (tiling.py); a1 shares it
    return f"""
WITH pages AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CAST(320 + doc_id % 2560 AS BIGINT) AS width,
    CAST(240 + (doc_id * 7) % 1920 AS BIGINT) AS height,
    text
  FROM documents
),
grids(gw, gh) AS (VALUES {_grids_values()}),
ranked AS (
  SELECT p.*, g.gw, g.gh,
    ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY
      ABS(CAST(p.width AS DOUBLE) / CAST(p.height AS DOUBLE)
          - CAST(g.gw AS DOUBLE) / CAST(g.gh AS DOUBLE)) ASC,
      g.gw * g.gh DESC, g.gw ASC) AS rk
  FROM pages p CROSS JOIN grids g
),
geom AS (
  SELECT doc_id, width, height, text,
    CASE WHEN width <= {IMAGE_SIZE} AND height <= {IMAGE_SIZE} THEN 1 ELSE gw END AS w_tiles,
    CASE WHEN width <= {IMAGE_SIZE} AND height <= {IMAGE_SIZE} THEN 1 ELSE gh END AS h_tiles,
    CASE WHEN width >= height THEN {float(BASE_SIZE)}
         ELSE round_even(CAST(width AS DOUBLE) / CAST(height AS DOUBLE) * {float(BASE_SIZE)}, 0)
    END AS cwd,
    CASE WHEN width >= height
         THEN round_even(CAST(height AS DOUBLE) / CAST(width AS DOUBLE) * {float(BASE_SIZE)}, 0)
         ELSE {float(BASE_SIZE)}
    END AS chd
  FROM ranked WHERE rk = 1
),
tok AS (
  SELECT *,
    CAST(CASE WHEN width <= {IMAGE_SIZE} AND height <= {IMAGE_SIZE} THEN 0
         ELSE ({Q_TILE} * w_tiles + 1) * ({Q_TILE} * h_tiles) END AS BIGINT) AS tile_tokens,
    CAST(len(regexp_extract_all(text, '{bpe}')) AS BIGINT) AS text_tokens,
    CAST(FLOOR(({float(BASE_SIZE)} - cwd) / 2) AS INTEGER) AS pad_left,
    CAST(FLOOR(({float(BASE_SIZE)} - chd) / 2) AS INTEGER) AS pad_top
  FROM geom
),
page_plan AS (
  SELECT doc_id, width, height,
    CAST(cwd AS INTEGER) AS content_w,
    CAST(chd AS INTEGER) AS content_h,
    pad_left, pad_top,
    CAST({BASE_SIZE} - CAST(cwd AS INTEGER) - pad_left AS INTEGER) AS pad_right,
    CAST({BASE_SIZE} - CAST(chd AS INTEGER) - pad_top AS INTEGER) AS pad_bottom,
    cwd / CAST(width AS DOUBLE) AS scale,
    CAST({PAD_FILL} AS INTEGER) AS fill_r,
    CAST(w_tiles AS INTEGER) AS w_tiles,
    CAST(h_tiles AS INTEGER) AS h_tiles,
    CAST({GLOBAL_TOKENS} + tile_tokens AS BIGINT) AS image_tokens,
    text_tokens,
    CAST(2 + {GLOBAL_TOKENS} + tile_tokens + text_tokens AS BIGINT) AS seq_len,
    tile_tokens
  FROM tok
)
SELECT page_plan.* EXCLUDE (tile_tokens), s.kind,
  CAST(s.seg_start AS BIGINT) AS seg_start,
  CAST(s.seg_len AS BIGINT) AS seg_len,
  s.is_image
FROM page_plan, LATERAL (
  SELECT 'bos' AS kind, 0 AS seg_start, 1 AS seg_len, FALSE AS is_image
  UNION ALL
  SELECT 'global_view', 1, {GLOBAL_TOKENS}, TRUE
  UNION ALL
  SELECT 'tiles', 1 + {GLOBAL_TOKENS}, tile_tokens, TRUE
    WHERE tile_tokens > 0
  UNION ALL
  SELECT 'text', 1 + {GLOBAL_TOKENS} + tile_tokens, text_tokens, FALSE
    WHERE text_tokens > 0
  UNION ALL
  SELECT 'eos', 1 + {GLOBAL_TOKENS} + tile_tokens + text_tokens, 1, FALSE
) s
"""


# ---------------------------------------------------------------------------
# near-dup dedup + similarity search (training-data pipeline ops)
# ---------------------------------------------------------------------------


def d2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs, blocked on (lang, source) —
    the quadratic baseline that MinHash-LSH approximates."""
    from .operators.dedup import jaccard_pairs_blocked

    return jaccard_pairs_blocked(
        _t(spark, sf_dir, "documents"), ["lang", "source"], threshold=0.1
    ).select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        "jaccard",
    )


SQL_D2 = r"""
WITH toks AS (
  SELECT doc_id, lang, source,
    unnest(regexp_split_to_array(lower(text), '\s+')) AS tok,
    generate_subscripts(regexp_split_to_array(lower(text), '\s+'), 1) AS ord
  FROM documents
),
sh AS (
  SELECT DISTINCT a.doc_id, a.lang, a.source,
    a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
  UNION
  -- short-doc fallback (< 3 tokens): one whole-text shingle, mirroring
  -- the Spark shingles() otherwise-branch
  SELECT doc_id, lang, source,
    array_to_string(regexp_split_to_array(lower(text), '\s+'), ' ') AS shingle
  FROM documents
  WHERE len(regexp_split_to_array(lower(text), '\s+')) < 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.source = b.source AND a.shingle = b.shingle
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
  ROUND(CAST(i.n_common AS DOUBLE) /
        CAST(sa.n + sb.n - i.n_common AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE ROUND(CAST(i.n_common AS DOUBLE) /
            CAST(sa.n + sb.n - i.n_common AS DOUBLE), 6) >= 0.1
"""


def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ perturbed copies of every 10th doc (first token
    replaced) — guarantees near-dup structure for the LSH operators."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("PERTURBED"), F.expr("substring(text, locate(' ', text))")
        ).alias("text"),
    )
    return docs.unionByName(dups)


def d3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=64) + 16-band LSH near-dup candidate pairs, verified
    with exact Jaccard ≥ 0.5 — the scale path for 10^12-doc dedup.
    hash_mode="portable" so the ENTIRE pipeline (shingle hash → k
    permutations → band fold → capped buckets → pair gen → Jaccard
    verify) is mirrored literally by the DuckDB oracle."""
    from .operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(
        _docs_with_planted_dups(spark, sf_dir),
        jaccard_threshold=0.5,
        hash_mode="portable",
    )
    return out.select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        "jaccard",
    )


def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming ≤ 3) via 16-bit chunk blocking;
    portable hash family → full DuckDB oracle parity."""
    from .operators.dedup import simhash_pairs

    out = simhash_pairs(
        _docs_with_planted_dups(spark, sf_dir), max_hamming=3, hash_mode="portable"
    )
    return out.select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        "hamming",
    )


# DuckDB mirrors of the planted-dup corpus + portable-hash dedup pipelines.
_DUP_DOCS_CTE = r"""
dup_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'PERTURBED' || substr(text, strpos(text, ' ')) AS text
  FROM documents WHERE doc_id % 10 = 0
),
dtoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(lower(text), '\s+'), 1) AS ord
  FROM dup_docs
)
"""


def _sql_minhash_pairs(corpus_cte: str) -> str:
    """Full portable MinHash-LSH pair pipeline as one DuckDB query,
    parameterized by the corpus CTE (must define ``dup_docs(doc_id,
    text)`` and ``dtoks``). Shared by d3 (P1-planted corpus) and d6
    (chain-planted corpus → cluster closure on top)."""
    from .operators.dedup import (
        BAND_M,
        LSH_BANDS,
        LSH_BUCKET_CAP,
        LSH_ROWS,
        MH_A,
        MH_B,
        MH_PRIME,
        MINHASH_K,
    )

    mins = ",\n    ".join(
        f"MIN((h * {MH_A[i]} + {MH_B[i]}) % {MH_PRIME}) AS s{i}"
        for i in range(MINHASH_K)
    )

    def band_expr(b: int) -> str:
        e = f"s{b * LSH_ROWS}"
        for r in range(1, LSH_ROWS):
            e = f"(({e}) * {BAND_M} + s{b * LSH_ROWS + r}) % {MH_PRIME}"
        return e

    bands_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, {band_expr(b)} AS band_sig FROM sig"
        for b in range(LSH_BANDS)
    )
    return rf"""
WITH {corpus_cte.strip().rstrip()},
sh AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h
  FROM (
    SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
    FROM dtoks a
    JOIN dtoks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
    JOIN dtoks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
    UNION ALL
    SELECT doc_id,
      array_to_string(regexp_split_to_array(lower(text), '\s+'), ' ') AS shingle
    FROM dup_docs
    WHERE len(regexp_split_to_array(lower(text), '\s+')) < 3
  )
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  {bands_union}
),
buckets AS (
  SELECT band, band_sig,
         list_sort(list(doc_id))[1:{LSH_BUCKET_CAP}] AS members
  FROM bands GROUP BY band, band_sig HAVING COUNT(*) > 1
),
mem AS (SELECT band, band_sig, unnest(members) AS doc_id FROM buckets),
pairs AS (
  SELECT DISTINCT m1.doc_id AS doc_a, m2.doc_id AS doc_b
  FROM mem m1 JOIN mem m2
    ON m1.band = m2.band AND m1.band_sig = m2.band_sig
   AND m1.doc_id < m2.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN sh x ON x.doc_id = p.doc_a
  JOIN sh y ON y.doc_id = p.doc_b AND y.h = x.h
  GROUP BY p.doc_a, p.doc_b
)
SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
  ROUND(CAST(i.n_common AS DOUBLE) /
        CAST(sa.n + sb.n - i.n_common AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE ROUND(CAST(i.n_common AS DOUBLE) /
            CAST(sa.n + sb.n - i.n_common AS DOUBLE), 6) >= 0.5
"""


def _sql_d3() -> str:
    return _sql_minhash_pairs(_DUP_DOCS_CTE)


# Chain-planted corpus for the cluster-collapse query: every 10th doc
# gets TWO perturbed copies — P1 (head token replaced) and P2 (= P1 plus
# an appended tail token). P1~orig and P2~P1 are near-dups; the closure
# must put {orig, P1, P2} in ONE cluster even where an individual edge
# is missed — the transitive semantics d6 exists to pin.
_DUP_CHAIN_CTE = r"""
dup_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'PERTURBED' || substr(text, strpos(text, ' ')) AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         'PERTURBED' || substr(text, strpos(text, ' ')) || ' TAILTOKEN' AS text
  FROM documents WHERE doc_id % 10 = 0
),
dtoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(lower(text), '\s+'), 1) AS ord
  FROM dup_docs
)
"""


def _docs_with_planted_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of _DUP_CHAIN_CTE (byte-identical perturbations)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    p1_text = F.concat(
        F.lit("PERTURBED"), F.expr("substring(text, locate(' ', text))")
    )
    p1 = tenth.select((F.col("doc_id") + 1_000_000).alias("doc_id"), p1_text.alias("text"))
    p2 = tenth.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(p1_text, F.lit(" TAILTOKEN")).alias("text"),
    )
    return docs.unionByName(p1).unionByName(p2)


def d6_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster collapse — the final stage of production fuzzy
    dedup: verified MinHash-LSH pairs (d3 machinery, portable hash mode)
    → connected components (iterative min-label propagation + pointer
    doubling, operators/dedup.py:dup_clusters) → one canonical doc per
    TRANSITIVE cluster. Oracle: same pair SQL + a recursive CTE closure.
    Output grain: one row per clustered doc (singletons implicit)."""
    from .operators.dedup import cluster_sizes, dup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _docs_with_planted_chain(spark, sf_dir),
        jaccard_threshold=0.5,
        hash_mode="portable",
    )
    return cluster_sizes(dup_clusters(pairs)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "cluster_size",
        "is_canonical",
    )


def _sql_d6() -> str:
    pairs_sql = _sql_minhash_pairs(_DUP_CHAIN_CTE)
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({pairs_sql})
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
),
lab AS (
  SELECT node AS doc_id, LEAST(node, MIN(r)) AS cluster_id
  FROM reach GROUP BY node
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(cluster_id AS BIGINT) AS cluster_id,
  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
  doc_id = cluster_id AS is_canonical
FROM lab
"""


def _sql_d4() -> str:
    from .operators.dedup import (
        LSH_BUCKET_CAP,
        MH_PRIME,
        SH_A,
        SH_B,
        SIMHASH_BITS,
        SIMHASH_CHUNKS,
    )

    chunk = SIMHASH_BITS // SIMHASH_CHUNKS
    bits = ",\n    ".join(
        f"CASE WHEN SUM(CASE WHEN (h * {SH_A[j]} + {SH_B[j]}) % {MH_PRIME} % 2 = 1"
        f" THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    chunks_union = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {c} AS chunk, {expr} AS chunk_sig FROM sig".format(
            c=c,
            expr=" + ".join(
                f"b{c * chunk + j} * {2 ** j}" for j in range(chunk)
            ),
        )
        for c in range(SIMHASH_CHUNKS)
    )
    hamming = " + ".join(
        f"(CASE WHEN x.b{j} <> y.b{j} THEN 1 ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return rf"""
WITH {_DUP_DOCS_CTE.strip().rstrip()},
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS h
  FROM dtoks
),
sig AS (
  SELECT doc_id,
    {bits}
  FROM th GROUP BY doc_id
),
chunks AS (
  {chunks_union}
),
buckets AS (
  SELECT chunk, chunk_sig,
         list_sort(list(doc_id))[1:{LSH_BUCKET_CAP}] AS members
  FROM chunks GROUP BY chunk, chunk_sig HAVING COUNT(*) > 1
),
mem AS (SELECT chunk, chunk_sig, unnest(members) AS doc_id FROM buckets),
pairs AS (
  SELECT DISTINCT m1.doc_id AS doc_a, m2.doc_id AS doc_b
  FROM mem m1 JOIN mem m2
    ON m1.chunk = m2.chunk AND m1.chunk_sig = m2.chunk_sig
   AND m1.doc_id < m2.doc_id
)
SELECT CAST(p.doc_a AS BIGINT) AS doc_a, CAST(p.doc_b AS BIGINT) AS doc_b,
  CAST({hamming} AS BIGINT) AS hamming
FROM pairs p
JOIN sig x ON x.doc_id = p.doc_a
JOIN sig y ON y.doc_id = p.doc_b
WHERE {hamming} <= 3
"""


def _vecs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies of every 5th vector: scaled by
    1 + (vid%7-3)/1024 and shifted by (vid%3-1)/64 per component —
    cosine ≈ 1 planted near-dups (dyadic constants: bit-exact in both
    engines). Mirrors _docs_with_planted_dups for the vector space."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )
    vid = F.col("vec_id")
    fac = F.lit(1.0) + ((vid % 7) - 3).cast("double") / F.lit(1024.0)
    shift = ((vid % 3) - 1).cast("double") / F.lit(64.0)
    # NB: perturb BEFORE renaming vec_id — a (vid+1e6).alias("vec_id")
    # in the same select would capture fac/shift via Spark's lateral
    # column alias resolution and perturb with the shifted id.
    pert = (
        base.filter(vid % 5 == 0)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x * fac + shift).alias(
                "embedding"
            ),
            "label",
        )
        .select((vid + 1_000_000).alias("vec_id"), "embedding", "label")
    )
    return base.unionByName(pert)


_D5_PLANES, _D5_TABLES = 8, 4


def d5_embedding_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.99) over the planted-dup
    vector corpus, blocked on (label, hyperplane-LSH bucket) with FOUR
    OR'd plane-block tables (VERDICT r3 #3: planted recall 0.8225 with
    one table → 0.9975; bench reports embdup_planted_recall and
    embdup_scan_fraction). Still never all-pairs: per-table block size
    ~ |label|/2^8. The DuckDB oracle mirrors all four bucketings
    literally; recall vs the exact baseline is covered in
    tests/test_dedup_similarity.py."""
    from .operators.similarity import embedding_dup_pairs

    out = embedding_dup_pairs(
        _vecs_with_planted_dups(spark, sf_dir),
        threshold=0.99,
        n_planes=_D5_PLANES,
        dim=64,
        n_tables=_D5_TABLES,
    )
    # id casts live in the registry projection, not the operator
    # (CLAUDE.md: operators must not assume numeric ids — ANSI throw)
    return out.select(
        F.col("vec_a").cast("bigint").alias("vec_a"),
        F.col("vec_b").cast("bigint").alias("vec_b"),
        "cos_sim",
    )


_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
)
_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_COS_AB = (
    f"{_DOT.format(a='a.embedding', b='b.embedding')} / "
    f"({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})"
)

_VAUG_CTE = """
vaug AS (
  SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS embedding,
         e.label
  FROM embeddings e
  UNION ALL
  SELECT e.vec_id + 1000000 AS vec_id,
    list_transform(e.embedding, x -> CAST(x AS DOUBLE)
      * (1.0 + CAST(e.vec_id % 7 - 3 AS DOUBLE) / 1024.0)
      + CAST(e.vec_id % 3 - 1 AS DOUBLE) / 64.0) AS embedding,
    e.label
  FROM embeddings e WHERE e.vec_id % 5 = 0
)
"""


def _wl(p: int, dim: int = 64) -> str:
    from .operators.similarity import HYPERPLANES

    return "[" + ", ".join(repr(x) for x in HYPERPLANES[p][:dim]) + "]"


def _sql_d5() -> str:
    np_, nt = _D5_PLANES, _D5_TABLES
    margins = ",\n    ".join(
        f"list_sum(list_transform(list_zip(v.embedding, {_wl(p)}),"
        f" s -> s[1] * CAST(s[2] AS DOUBLE))) AS m{p}"
        for p in range(np_ * nt)
    )
    # table t folds planes [t·np, (t+1)·np) with LOCAL 2^j weights —
    # exactly hyperplane_bucket(base=t·np)
    buckets = ",\n    ".join(
        " + ".join(
            f"(CASE WHEN m{t * np_ + j} > 0 THEN {2 ** j} ELSE 0 END)"
            for j in range(np_)
        )
        + f" AS b{t}"
        for t in range(nt)
    )
    any_tbl = " OR ".join(f"a.b{t} = b.b{t}" for t in range(nt))
    return f"""
WITH {_VAUG_CTE.strip()},
m AS (
  SELECT v.vec_id, v.label, v.embedding,
    {margins}
  FROM vaug v
),
bk AS (SELECT vec_id, label, embedding,
    {buckets}
  FROM m)
SELECT CAST(a.vec_id AS BIGINT) AS vec_a, CAST(b.vec_id AS BIGINT) AS vec_b,
  ROUND({_COS_AB}, 6) AS cos_sim
FROM bk a JOIN bk b
  ON a.label = b.label AND ({any_tbl}) AND a.vec_id < b.vec_id
WHERE ROUND({_COS_AB}, 6) >= 0.99
"""


def _cast_knn_ids(out: DataFrame) -> DataFrame:
    """Registry projection for the kNN queries: cast ids to bigint HERE,
    not in the operators (CLAUDE.md: operators must not assume numeric
    ids — an ANSI cast on string ids throws at runtime)."""
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        "sim",
        "rank",
    )


def s1_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 20 vectors (ANN
    correctness baseline), plus the neighbor's L2 norm via the
    sequential F.aggregate double fold (merged e1_embedding_norm, r5 —
    the array-math fold stays driver-checked at the same result
    grain)."""
    from .operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    # allow_full_scan: this registry entry IS the documented comparator on
    # the bounded sf corpora; skipping the guard keeps construction job-free
    # (plan tools) and the guard count out of the bench's timed region
    knn = _cast_knn_ids(
        cosine_topk(
            emb, emb.filter(F.col("vec_id") < 20), k=5, allow_full_scan=True
        )
    )
    sq = F.aggregate(
        "embedding",
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = emb.select(
        F.col("vec_id").cast("bigint").alias("neighbor_id"),
        F.round(F.sqrt(sq), 6).alias("neighbor_l2"),
    )
    return knn.join(norms, "neighbor_id").select(
        "query_id", "neighbor_id", "sim", "rank", "neighbor_l2"
    )


SQL_S1 = f"""
WITH scored AS (
  SELECT CAST(a.vec_id AS BIGINT) AS query_id, CAST(b.vec_id AS BIGINT) AS neighbor_id,
    ROUND({_COS_AB}, 6) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 20
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
),
norms AS (
  SELECT CAST(vec_id AS BIGINT) AS neighbor_id,
    ROUND(sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS neighbor_l2
  FROM embeddings
)
SELECT r.query_id, r.neighbor_id, r.sim, r.rank, n.neighbor_l2
FROM ranked r JOIN norms n USING (neighbor_id) WHERE r.rank <= 5
"""


_S2_PLANES, _S2_PROBE, _S2_TABLES = 6, 2, 4
_S3_CELLS, _S3_PROBE, _S3_BASE = 16, 2, 100


def s3_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF, 2-probe, with the deterministic seeded
    coarse quantizer (ivf_topk_seeded) — fully relational, mirrored by
    the DuckDB oracle. The k-means-fitted variant (ivf_topk, sampled
    fit) is exercised by tests/test_dedup_similarity.py."""
    from .operators.similarity import ivf_topk_seeded

    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk_seeded(
        emb,
        emb.filter(F.col("vec_id") < 20),
        k=5,
        n_cells=_S3_CELLS,
        n_probe=_S3_PROBE,
        seed_base=_S3_BASE,
    )
    return _cast_knn_ids(out)


def s2_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH: 4 independent hash
    tables OR'd (disjoint plane blocks), each with multi-probe (primary
    bucket + weakest-sign flip) — the production recall shape (VERDICT
    r2 #4). Literal hyperplanes → the DuckDB oracle reproduces
    bucketing, probing, and cross-table dedup exactly."""
    from .operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        k=5,
        n_planes=_S2_PLANES,
        n_probe=_S2_PROBE,
        n_tables=_S2_TABLES,
        dim=64,
    )
    return _cast_knn_ids(out)


def _sql_s2() -> str:
    """Multi-table LSH oracle: table t uses plane block [t·p, t·p+p)
    with bucket ids offset into the disjoint range [t·2^p, (t+1)·2^p) —
    the literal mirror of similarity.lsh_index/_lsh_query_side. Cross-table candidate
    dedup is SELECT DISTINCT (sim is pair-deterministic)."""
    np_, nprobe, nt, k = _S2_PLANES, _S2_PROBE, _S2_TABLES, 5
    margins = ",\n    ".join(
        f"list_sum(list_transform(list_zip(e.embedding, {_wl(t * np_ + j)}),"
        f" s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) AS m{t}_{j}"
        for t in range(nt)
        for j in range(np_)
    )

    def pattern(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN m{t}_{j} > 0 THEN {2 ** j} ELSE 0 END)"
            for j in range(np_)
        )

    bk = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {t * 2 ** np_} + {pattern(t)} AS bucket FROM m"
        for t in range(nt)
    )
    qball = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {t} AS tbl, {t * 2 ** np_} + {pattern(t)} AS bucket"
        " FROM m WHERE vec_id < 20"
        for t in range(nt)
    )
    unp = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {t} AS tbl, {j} AS p, abs(m{t}_{j}) AS a"
        " FROM m WHERE vec_id < 20"
        for t in range(nt)
        for j in range(np_)
    )
    pow2 = "[" + ", ".join(str(2**j) for j in range(np_)) + "]"
    return f"""
WITH m AS (
  SELECT e.vec_id,
    {margins}
  FROM embeddings e
),
bk AS (
  {bk}
),
qball AS (
  {qball}
),
unp AS (
  {unp}
),
rk AS (
  SELECT vec_id, tbl, p,
         ROW_NUMBER() OVER (PARTITION BY vec_id, tbl ORDER BY a, p) AS rk
  FROM unp
),
probes AS (
  SELECT vec_id, bucket FROM qball
  UNION ALL
  SELECT r.vec_id,
    xor(q.bucket::BIGINT, ({pow2}[r.p + 1])::BIGINT)::INTEGER AS bucket
  FROM rk r JOIN qball q ON q.vec_id = r.vec_id AND q.tbl = r.tbl
  WHERE r.rk <= {nprobe - 1}
),
scored AS (
  SELECT DISTINCT pr.vec_id AS query_id, nb.vec_id AS neighbor_id,
    ROUND({_COS_AB}, 6) AS sim
  FROM probes pr
  JOIN bk nb ON nb.bucket = pr.bucket AND nb.vec_id <> pr.vec_id
  JOIN embeddings a ON a.vec_id = pr.vec_id
  JOIN embeddings b ON b.vec_id = nb.vec_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
  CAST(neighbor_id AS BIGINT) AS neighbor_id, sim, rank
FROM ranked WHERE rank <= {k}
"""


def _sql_s3() -> str:
    n_cells, nprobe, k, base = _S3_CELLS, _S3_PROBE, 5, _S3_BASE
    sq = (
        "list_sum(list_transform(list_zip({v}, {c}),"
        " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
        " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))))"
    )
    return f"""
WITH cents AS (
  SELECT CAST(vec_id - {base} AS INTEGER) AS cell, embedding AS cvec
  FROM embeddings WHERE vec_id >= {base} AND vec_id < {base + n_cells}
),
vd AS (
  SELECT e.vec_id, c.cell, {sq.format(v="e.embedding", c="c.cvec")} AS d
  FROM embeddings e CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rk
  FROM vd
),
vcell AS (SELECT vec_id, cell FROM rk WHERE rk = 1),
qcell AS (SELECT vec_id, cell FROM rk WHERE rk <= {nprobe} AND vec_id < 20),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
    ROUND({_COS_AB}, 6) AS sim
  FROM qcell q
  JOIN vcell v ON v.cell = q.cell AND v.vec_id <> q.vec_id
  JOIN embeddings a ON a.vec_id = q.vec_id
  JOIN embeddings b ON b.vec_id = v.vec_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
  CAST(neighbor_id AS BIGINT) AS neighbor_id, sim, rank
FROM ranked WHERE rank <= {k}
"""


def m2_metrics_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-metrics export as JSON (§2.7: 'we add to_json only
    for metrics'): per-source rollup of the raw-doc corpus serialized
    for the metrics sink."""
    df = _raw(spark, sf_dir)
    per_source = df.groupBy("source").agg(
        F.count("*").cast("bigint").alias("docs"),
        F.sum(F.size(F.regexp_extract_all("raw", F.lit(REF_PAT), 0)))
        .cast("bigint")
        .alias("grounding_spans"),
        F.sum(F.length("raw")).cast("bigint").alias("chars"),
    )
    return per_source.select(
        "source",
        F.to_json(F.struct("source", "docs", "grounding_spans", "chars")).alias(
            "metrics_json"
        ),
    )


SQL_M2 = f"""
WITH {RAW_DOCS_CTE},
per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
    CAST(SUM(len(regexp_extract_all(raw, '{REF_PAT}'))) AS BIGINT) AS grounding_spans,
    CAST(SUM(length(raw)) AS BIGINT) AS chars
  FROM raw_docs GROUP BY source
)
SELECT source,
  to_json(struct_pack(source := source, docs := docs,
          grounding_spans := grounding_spans, chars := chars)) AS metrics_json
FROM per_source
"""


# ---------------------------------------------------------------------------
# media-ref back-resolution join (S6 generalization: spans ⋈ media table)
# ---------------------------------------------------------------------------


def m1_media_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join of resolved media spans (x5) with a media
    metadata table (metadata projection only — bytes never travel);
    aspect-preserving thumbnail dims computed in the join projection."""
    spans = x5_media_ref_resolution(spark, sf_dir)
    d, i = F.col("doc_id"), F.col("idx")
    meta = spans.select(
        "doc_id",
        "idx",
        F.element_at(
            F.array(F.lit("image/jpeg"), F.lit("image/png"), F.lit("video/mp4")),
            ((d + i) % 3 + 1).cast("int"),
        ).alias("mime"),
        (64 + (d * 31 + i * 17) % 1920).cast("bigint").alias("width"),
        (64 + (d * 13 + i * 7) % 1080).cast("bigint").alias("height"),
    )
    joined = spans.join(F.broadcast(meta), ["doc_id", "idx"])
    factor = F.least(
        F.lit(1.0), F.lit(128.0) / F.greatest("width", "height").cast("double")
    )
    return joined.select(
        "doc_id",
        "media_ref",
        "mime",
        "width",
        "height",
        F.floor(F.col("width") * factor).cast("bigint").alias("thumb_w"),
        F.floor(F.col("height") * factor).cast("bigint").alias("thumb_h"),
    )


SQL_M1 = f"""
WITH {RAW_DOCS_CTE},
m AS (SELECT doc_id, len(regexp_extract_all(raw, '{MEDIA_PAT}')) AS n FROM raw_docs),
spans AS (
  SELECT CAST(m.doc_id AS BIGINT) AS doc_id, CAST(r.range AS BIGINT) AS idx,
    'images/0_' || CAST(r.range AS VARCHAR) || '.jpg' AS media_ref
  FROM m, range(0, 4) r WHERE r.range < m.n
),
meta AS (
  SELECT doc_id, idx,
    (['image/jpeg','image/png','video/mp4'])[CAST((doc_id + idx) % 3 + 1 AS INT)] AS mime,
    CAST(64 + (doc_id * 31 + idx * 17) % 1920 AS BIGINT) AS width,
    CAST(64 + (doc_id * 13 + idx * 7) % 1080 AS BIGINT) AS height
  FROM spans
)
SELECT s.doc_id, s.media_ref, t.mime, t.width, t.height,
  CAST(FLOOR(t.width * LEAST(1.0, 128.0 / CAST(GREATEST(t.width, t.height) AS DOUBLE))) AS BIGINT) AS thumb_w,
  CAST(FLOOR(t.height * LEAST(1.0, 128.0 / CAST(GREATEST(t.width, t.height) AS DOUBLE))) AS BIGINT) AS thumb_h
FROM spans s JOIN meta t ON s.doc_id = t.doc_id AND s.idx = t.idx
"""


# ---------------------------------------------------------------------------
# boilerplate classification over a synthetic flattened DOM table
# (north_star: jusText/Readability text-density/link-density heuristics)
# ---------------------------------------------------------------------------

# Deterministic DOM-node derivation from the driver documents table,
# mirrored in DOM_NODES_CTE: 6 nodes per doc, tags/link-chars/tag-counts
# pure functions of (doc_id, node_id).


def dom_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    d, n = F.col("doc_id"), F.col("node_id")
    node_text = F.substring("text", (n * 50 + 1).cast("int"), 50)
    n_chars = F.length(node_text)
    mod7 = (d + n) % 7
    tag = (
        F.when(mod7 == 0, "nav")
        .when(mod7 == 3, "footer")
        .when(mod7 == 5, "td")
        .when(mod7 == 2, "div")
        .otherwise("p")
    )
    mod4 = (d + n) % 4
    n_link = (
        F.when(mod4 == 0, F.floor(n_chars * 2 / F.lit(5.0)))
        .when(mod4 == 1, F.floor(n_chars / F.lit(20.0)))
        .otherwise(F.lit(0))
    )
    return (
        df.select("doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("node_id"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("node_id").cast("bigint").alias("node_id"),
            tag.alias("tag"),
            node_text.alias("text"),
            n_chars.cast("bigint").alias("n_chars"),
            n_link.cast("bigint").alias("n_link_chars"),
            (1 + (d * 3 + n) % 4).cast("bigint").alias("n_tags"),
        )
    )


DOM_NODES_CTE = """
dom_nodes AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(r.range AS BIGINT) AS node_id,
    CASE (doc_id + r.range) % 7 WHEN 0 THEN 'nav' WHEN 3 THEN 'footer'
         WHEN 5 THEN 'td' WHEN 2 THEN 'div' ELSE 'p' END AS tag,
    substr(text, CAST(r.range * 50 + 1 AS INT), 50) AS text,
    CAST(length(substr(text, CAST(r.range * 50 + 1 AS INT), 50)) AS BIGINT) AS n_chars,
    CAST(CASE (doc_id + r.range) % 4
      WHEN 0 THEN FLOOR(length(substr(text, CAST(r.range * 50 + 1 AS INT), 50)) * 2 / 5.0)
      WHEN 1 THEN FLOOR(length(substr(text, CAST(r.range * 50 + 1 AS INT), 50)) / 20.0)
      ELSE 0 END AS BIGINT) AS n_link_chars,
    CAST(1 + (doc_id * 3 + r.range) % 4 AS BIGINT) AS n_tags
  FROM documents, range(0, 6) r
)
"""


def b1_boilerplate_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText context-free + context-sensitive block classification."""
    from .operators.boilerplate import classify_nodes

    return classify_nodes(dom_nodes(spark, sf_dir)).select(
        "doc_id", "node_id", "tag", "link_density", "cls_raw", "cls"
    )


# shared by SQL_B1 and SQL_B2 — a one-sided edit to the jusText
# heuristics would silently desynchronize the two oracles
_B_CLS_CASE = """CASE
      WHEN tag IN ('nav','footer','aside','header','form','script') THEN 'bad'
      WHEN CAST(n_link_chars AS DOUBLE) / GREATEST(CAST(n_chars AS DOUBLE), 1.0) > 0.3 THEN 'bad'
      WHEN n_chars < 20 THEN 'short'
      WHEN n_chars >= 80 AND CAST(n_link_chars AS DOUBLE) / GREATEST(CAST(n_chars AS DOUBLE), 1.0) < 0.1 THEN 'good'
      ELSE 'near' END AS cls_raw"""

_B_CTX_CTE = """ctx AS (
  SELECT *,
    last_value(CASE WHEN cls_raw IN ('good','bad') THEN cls_raw END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY node_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_cls,
    first_value(CASE WHEN cls_raw IN ('good','bad') THEN cls_raw END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY node_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_cls
  FROM feat
)"""

_B_SMOOTH_CASE = """CASE WHEN cls_raw IN ('good','bad') THEN cls_raw
       WHEN prev_cls = 'good' OR next_cls = 'good' THEN 'good'
       ELSE 'bad' END"""

SQL_B1 = f"""
WITH {DOM_NODES_CTE},
feat AS (
  SELECT *, ROUND(CAST(n_link_chars AS DOUBLE) /
                  GREATEST(CAST(n_chars AS DOUBLE), 1.0), 6) AS link_density,
    {_B_CLS_CASE}
  FROM dom_nodes
),
{_B_CTX_CTE}
SELECT doc_id, node_id, tag, link_density, cls_raw,
  {_B_SMOOTH_CASE} AS cls
FROM ctx
"""


def b2_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc main content after boilerplate drop + metrics."""
    from .operators.boilerplate import extract_main_content

    return extract_main_content(dom_nodes(spark, sf_dir))


SQL_B2 = f"""
WITH {DOM_NODES_CTE},
feat AS (
  SELECT *,
    {_B_CLS_CASE}
  FROM dom_nodes
),
{_B_CTX_CTE},
cls AS (
  SELECT *, {_B_SMOOTH_CASE} AS cls
  FROM ctx
)
SELECT doc_id,
  coalesce(string_agg(text, e'\\n' ORDER BY node_id) FILTER (cls = 'good'), '') AS content,
  CAST(COUNT(*) FILTER (cls = 'good') AS BIGINT) AS blocks_kept,
  CAST(COUNT(*) FILTER (cls <> 'good') AS BIGINT) AS blocks_dropped,
  CAST(coalesce(SUM(n_chars) FILTER (cls = 'good'), 0) AS BIGINT) AS char_yield
FROM cls GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# XY-cut reading-order recovery over a synthetic layout-block table
# ---------------------------------------------------------------------------


def layout_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 blocks per doc: title band, 3-left + 3-right columns, footer;
    jitter and font variation are pure functions of (doc_id, i)."""
    df = _t(spark, sf_dir, "documents")
    d, i = F.col("doc_id"), F.col("block_id")
    x1 = (
        F.when(i == 0, 100 + d % 50)
        .when((i >= 1) & (i <= 3), F.lit(50))
        .when((i >= 4) & (i <= 6), F.lit(520))
        .otherwise(F.lit(100))
    )
    x2 = (
        F.when(i == 0, F.lit(899))
        .when((i >= 1) & (i <= 3), F.lit(480))
        .when((i >= 4) & (i <= 6), F.lit(950))
        .otherwise(F.lit(899))
    )
    y1 = (
        F.when(i == 0, F.lit(10))
        .when((i >= 1) & (i <= 3), 100 + (i - 1) * 140 + d % 20)
        .when((i >= 4) & (i <= 6), 100 + (i - 4) * 140 + d % 15)
        .otherwise(F.lit(940))
    )
    y2 = (
        F.when(i == 0, F.lit(60))
        .when((i >= 1) & (i <= 6), y1 + 130)
        .otherwise(F.lit(990))
    )
    font = (
        F.when(i == 0, F.lit(24.0))
        .when(i == 7, F.lit(8.0))
        .when((d + i) % 3 == 0, F.lit(14.0))
        .otherwise(F.lit(12.0))
    )
    return (
        df.select("doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("block_id"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.lit(0).cast("bigint").alias("page_no"),
            F.col("block_id").cast("bigint").alias("block_id"),
            x1.cast("bigint").alias("x1"),
            y1.cast("bigint").alias("y1"),
            x2.cast("bigint").alias("x2"),
            y2.cast("bigint").alias("y2"),
            font.cast("double").alias("font_size"),
            F.substring("text", (F.col("block_id") * 30 + 1).cast("int"), 30).alias("text"),
        )
    )


LAYOUT_BLOCKS_CTE = """
layout_blocks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS page_no,
    CAST(r.range AS BIGINT) AS block_id,
    CAST(CASE WHEN r.range = 0 THEN 100 + doc_id % 50
         WHEN r.range BETWEEN 1 AND 3 THEN 50
         WHEN r.range BETWEEN 4 AND 6 THEN 520 ELSE 100 END AS BIGINT) AS x1,
    CAST(CASE WHEN r.range = 0 THEN 10
         WHEN r.range BETWEEN 1 AND 3 THEN 100 + (r.range - 1) * 140 + doc_id % 20
         WHEN r.range BETWEEN 4 AND 6 THEN 100 + (r.range - 4) * 140 + doc_id % 15
         ELSE 940 END AS BIGINT) AS y1,
    CAST(CASE WHEN r.range = 0 THEN 899
         WHEN r.range BETWEEN 1 AND 3 THEN 480
         WHEN r.range BETWEEN 4 AND 6 THEN 950 ELSE 899 END AS BIGINT) AS x2,
    CAST(CASE WHEN r.range = 0 THEN 60
         WHEN r.range BETWEEN 1 AND 3 THEN 100 + (r.range - 1) * 140 + doc_id % 20 + 130
         WHEN r.range BETWEEN 4 AND 6 THEN 100 + (r.range - 4) * 140 + doc_id % 15 + 130
         ELSE 990 END AS BIGINT) AS y2,
    CAST(CASE WHEN r.range = 0 THEN 24.0 WHEN r.range = 7 THEN 8.0
         WHEN (doc_id + r.range) % 3 = 0 THEN 14.0 ELSE 12.0 END AS DOUBLE) AS font_size,
    substr(text, CAST(r.range * 30 + 1 AS INT), 30) AS text
  FROM documents, range(0, 8) r
)
"""

_CUT_SQL = """
{name} AS (
  SELECT *, CAST(SUM(CASE WHEN prev_max IS NULL OR {lo} > prev_max THEN 1 ELSE 0 END)
    OVER (PARTITION BY {part} ORDER BY {lo}, {hi}, block_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS {out}
  FROM (
    SELECT *, MAX({hi}) OVER (PARTITION BY {part} ORDER BY {lo}, {hi}, block_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM {src}
  )
)
"""


def _cuts_sql() -> str:
    c1 = _CUT_SQL.format(
        name="c1", src="layout_blocks", part="doc_id, page_no", lo="y1", hi="y2", out="band"
    )
    c2 = _CUT_SQL.format(
        name="c2",
        src="(SELECT * EXCLUDE (prev_max) FROM c1)",
        part="doc_id, page_no, band",
        lo="x1",
        hi="x2",
        out="col",
    )
    c3 = _CUT_SQL.format(
        name="c3",
        src="(SELECT * EXCLUDE (prev_max) FROM c2)",
        part="doc_id, page_no, band, col",
        lo="y1",
        hi="y2",
        out="subband",
    )
    return f"{c1}, {c2}, {c3}"


def l1_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XY-cut band/column/sub-band segmentation + reading order."""
    from .operators.layout import reading_order

    return reading_order(layout_blocks(spark, sf_dir)).select(
        "doc_id",
        "block_id",
        F.col("band").cast("bigint").alias("band"),
        F.col("col").cast("bigint").alias("col"),
        F.col("subband").cast("bigint").alias("subband"),
        F.col("reading_order").cast("bigint").alias("reading_order"),
    )


SQL_L1 = f"""
WITH {LAYOUT_BLOCKS_CTE}, {_cuts_sql()}
SELECT doc_id, block_id, band, col, subband,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page_no
       ORDER BY band, col, subband, y1, x1, block_id) - 1 AS BIGINT) AS reading_order
FROM c3
"""


def l2_font_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Font-run merging on top of reading order."""
    from .operators.layout import merge_font_runs, reading_order

    return merge_font_runs(reading_order(layout_blocks(spark, sf_dir))).select(
        "doc_id",
        F.col("run_order").cast("bigint").alias("run_order"),
        "font_size",
        "text",
        "n_blocks",
        F.col("x1").cast("bigint").alias("x1"),
        F.col("y1").cast("bigint").alias("y1"),
        F.col("x2").cast("bigint").alias("x2"),
        F.col("y2").cast("bigint").alias("y2"),
    )


SQL_L2 = f"""
WITH {LAYOUT_BLOCKS_CTE}, {_cuts_sql()},
ro AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page_no
       ORDER BY band, col, subband, y1, x1, block_id) - 1 AS BIGINT) AS reading_order
  FROM c3
),
runs AS (
  SELECT *, CAST(SUM(CASE WHEN prev_font = font_size
        AND x1 <= prev_x2 AND x2 >= prev_x1
        AND (y1 - prev_y2) >= 0 AND (y1 - prev_y2) < 25 THEN 0 ELSE 1 END)
    OVER (PARTITION BY doc_id, page_no ORDER BY reading_order
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM (
    SELECT *, lag(x1) OVER w AS prev_x1, lag(x2) OVER w AS prev_x2,
      lag(font_size) OVER w AS prev_font, lag(y2) OVER w AS prev_y2
    FROM ro
    WINDOW w AS (PARTITION BY doc_id, page_no ORDER BY reading_order)
  )
)
SELECT doc_id, CAST(MIN(reading_order) AS BIGINT) AS run_order,
  first(font_size ORDER BY reading_order) AS font_size,
  string_agg(text, ' ' ORDER BY reading_order) AS text,
  CAST(COUNT(*) AS BIGINT) AS n_blocks,
  CAST(MIN(x1) AS BIGINT) AS x1, CAST(MIN(y1) AS BIGINT) AS y1,
  CAST(MAX(x2) AS BIGINT) AS x2, CAST(MAX(y2) AS BIGINT) AS y2
FROM runs GROUP BY doc_id, page_no, run_id
"""


def sd1_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful exact dedup (applyInPandasWithState), drained
    batch-equivalently: one AvailableNow micro-batch over the documents
    parquet → one row per first-seen content digest with the suppressed
    duplicate count. Single-batch first-seen == min(doc_id) per digest,
    so the DuckDB oracle is a plain GROUP BY (VERDICT r1 #10). The
    continuous multi-batch form is exercised in tests/test_stateful_dedup.

    CORRECTNESS-DRAIN ONLY: building this query *executes* the drain
    (stages files, runs the streaming query, holds results in a memory
    sink) — never a production path; the continuous operator is
    streaming/stateful_dedup.streaming_exact_dedup. Single-batch
    semantics are FORCED (maxFilesPerTrigger is pinned high) and
    VERIFIED post-drain: duplicates that arrive after their first
    sighting are suppressed-but-not-re-emitted in append mode, so a
    split drain would silently undercount vs the oracle (ADVICE r2)."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming.stateful_dedup import streaming_exact_dedup_flat

    src = f"{sf_dir}/documents.parquet"
    if os.path.isdir(src):
        stream_dir = src
    else:
        # FileStreamSource requires a directory; stage the single file.
        # Cache key includes mtime+size so regenerated testdata at the
        # same path is re-staged instead of streaming stale content.
        st = os.stat(src)
        tag = hashlib.md5(
            f"{src}:{st.st_mtime_ns}:{st.st_size}".encode()
        ).hexdigest()[:12]
        stream_dir = f"{tempfile.gettempdir()}/sd1_src_{tag}"
        dst = f"{stream_dir}/documents.parquet"
        if not os.path.exists(dst):
            os.makedirs(stream_dir, exist_ok=True)
            # atomic publish: a concurrent sd1 build must never list a
            # partially-copied file (exists() is true from byte one of a
            # plain copy; os.replace makes the name appear fully-formed)
            tmp = f"{dst}.tmp.{uuid.uuid4().hex[:8]}"
            shutil.copy(src, tmp)
            os.replace(tmp, dst)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        # FileStreamSource default maxFilesPerTrigger (1000) would split
        # a many-file directory into several micro-batches even under
        # availableNow — pin it above any plausible file count so the
        # drain is one batch (first-seen == min(doc_id), oracle-exact)
        .option("maxFilesPerTrigger", str(1 << 20))
        .parquet(stream_dir)
    )
    out = streaming_exact_dedup_flat(stream, text_col="text")
    # one fixed sink per session, dropped before reuse — a uuid-per-run
    # name would pin every drained result set in driver memory for the
    # session lifetime (oracle gate + bench invoke this repeatedly)
    name = "sd1_sink"
    spark.catalog.dropTempView(name)
    ckpt = tempfile.mkdtemp(prefix="sd1_ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    # the memory sink holds the rows; the per-run checkpoint is garbage
    shutil.rmtree(ckpt, ignore_errors=True)
    # >1 only: an empty corpus legitimately drains with zero data batches
    # (and its empty result matches the oracle exactly)
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    if n_batches > 1:
        raise RuntimeError(
            f"sd1 drain split into {n_batches} micro-batches — append-mode "
            "first-seen counts would undercount vs the single-batch oracle"
        )
    return spark.table(name).select(
        "digest",
        "doc_id",
        F.col("n_duplicates_suppressed").cast("bigint").alias(
            "n_duplicates_suppressed"
        ),
    )


SQL_SD1 = """
-- coalesce mirrors streaming_exact_dedup_flat: a NULL-text row digests
-- as empty content on BOTH engines (md5(NULL) is NULL in DuckDB and
-- would split into its own NULL-digest group otherwise)
SELECT md5(coalesce(text, '')) AS digest,
  MIN(CAST(doc_id AS VARCHAR)) AS doc_id,
  CAST(COUNT(*) - 1 AS BIGINT) AS n_duplicates_suppressed
FROM documents GROUP BY md5(coalesce(text, ''))
"""


# ---------------------------------------------------------------------------
# P7b: token-budget sequence packing (operators/packing.py) — the P7
# cost model's training consumer, registry-listed per VERDICT r3 #4
# ---------------------------------------------------------------------------

_P7B_BUDGET, _P7B_SHARDS = 4096, 8


def p7b_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing over the documents table: count = n_chars
    (every 37th doc ×20 to exercise the oversize-isolation path),
    portable md5 shard (rule 12) so the whole shard → running-sum fill →
    pack composition is DuckDB-oracled. doc_ids emitted as a sorted
    CSV string: cross-engine array compare is representation-fragile."""
    from .operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 37 == 0, F.col("n_chars") * 20)
        .otherwise(F.col("n_chars"))
        .alias("n_tokens"),
    )
    packs = pack_sequences(
        docs,
        budget=_P7B_BUDGET,
        n_shards=_P7B_SHARDS,
        shard_mode="portable",
    )
    return packs.select(
        "pack_id",
        F.array_join(
            F.transform("doc_ids", lambda d: d.cast("string")), ","
        ).alias("doc_ids"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        "utilization",
        "oversize",
    )


SQL_P7B = f"""
WITH counted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 37 = 0 THEN n_chars * 20 ELSE n_chars END AS cnt,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
      % {_P7B_SHARDS} AS shard
  FROM documents
),
flagged AS (
  SELECT doc_id, cnt, shard, cnt > {_P7B_BUDGET} AS oversize FROM counted
),
assigned AS (
  SELECT doc_id, cnt, shard, oversize,
    CASE WHEN oversize THEN CAST(ROW_NUMBER() OVER w AS BIGINT)
         ELSE CAST(FLOOR(COALESCE(SUM(cnt) OVER (
           w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_P7B_BUDGET}) AS BIGINT) END AS pack
  FROM flagged
  WINDOW w AS (PARTITION BY shard, oversize ORDER BY doc_id)
)
SELECT CAST(shard AS VARCHAR) || '-'
    || CASE WHEN oversize THEN 'ov' ELSE 'p' END || '-'
    || CAST(pack AS VARCHAR) AS pack_id,
  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(cnt) AS BIGINT) AS total_tokens,
  ROUND(CAST(SUM(cnt) AS DOUBLE) / {_P7B_BUDGET}.0, 6) AS utilization,
  oversize
FROM assigned GROUP BY shard, oversize, pack
"""


# ---------------------------------------------------------------------------
# flagship pipeline entries, DRIVER-ORACLED (VERDICT r3 #1)
#
# The registry inputs are deterministic derivations of the driver's
# ``documents`` parquet table (the RAW_DOCS_CTE pattern), so the full
# pipelines — the REAL extract_pdf / extract_spans operators, unchanged —
# are verifiable by the DuckDB gate, not only by the in-repo Python
# goldens (which keep covering the numpy fuzz corpus in tests/).
#
# Portability budget (CLAUDE.md rules 2/8):
# - Every clean/strip/normalize step is mirrored GENERALLY (same regex /
#   replace chain on both engines) — no assumption about the parquet text
#   except where noted.
# - The embedded document text is sanitized identically on both sides
#   (newline→space, '<|'→'(|', '![]('→'!|(') so it can never form
#   grounding blocks or media markdown of its own.
# - The F1 repetition collapse is a Java/Python backreference regex (not
#   RE2-expressible). In pipeline B the only spans it can fire on are:
#   the body span (wrapped in <td>…</td> → whitelist-skipped on both
#   engines, by the reference's own rule) and the injected spin span,
#   whose text is k≥2 exact copies of a 4-token phrase → the collapse
#   provably yields exactly 2 copies, which the oracle states in closed
#   form. All other span texts have < 8 token-terminating spaces after
#   cleaning, so the pattern (which needs ≥ 8) cannot match.
# - Pipeline A's per-page normalize loop (run_dpsk_ocr_pdf.py:313-314)
#   applies the \n\n\n\n→\n\n / \n\n\n→\n\n replace pair once per
#   non-image match; with sanitized text the only injected run is exactly
#   4 newlines, so one pass (mirrored literally) reaches the fixed point
#   and the loop's further passes are no-ops.
# ---------------------------------------------------------------------------

_P_IMG1_PRE = "<|ref|>image<|/ref|><|det|>[["  # + doc_id%300 + _P_IMG1_POST
_P_IMG1_POST = ",50,600,420]]<|/det|>"
_P_IMG2 = "<|ref|>image<|/ref|><|det|>[[12,600,700,900]]<|/det|>"
_P_MALF = "<|ref|>text<|/ref|><|det|>[[12, 34<|/det|>"
_P_SPIN = "spin loop go now "  # 4 tokens w/ trailing spaces: collapse unit
_P_FOOT = "| home | about | contact |"

# identical sanitizer, both engines (see portability budget above)
_SAN_SQL = (
    "replace(replace(replace({col}, chr(10), ' '), '<|', '(|'), '![](', '!|(')"
)


def _san(c: F.Column) -> F.Column:
    c = F.replace(c, F.lit("\n"), F.lit(" "))
    c = F.replace(c, F.lit("<|"), F.lit("(|"))
    return F.replace(c, F.lit("![]("), F.lit("!|("))


def _pipe_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages(doc_id, page_no, content) derived from documents — 3 or 4
    raw model-output pages per doc; mirrored by SQL_PIPE_A's CTEs."""
    df = _t(spark, sf_dir, "documents")
    pages = df.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.when(F.col("doc_id") % 2 == 0, F.lit(3)).otherwise(F.lit(2)),
            )
        ).alias("page_no"),
    )
    d, p = F.col("doc_id"), F.col("page_no")
    s = lambda c: c.cast("string")  # noqa: E731
    dp = d + p
    content = F.concat(
        F.lit("<|ref|>title<|/ref|><|det|>[["),
        s((d * 3 + p) % 900),
        F.lit(",10,"),
        s(d % 500 + 110),
        F.lit(",48]]<|/det|># H "),
        s(d),
        F.lit("-"),
        s(p),
        F.lit("\n"),
        F.when(
            dp % 4 == 0,
            F.concat(F.lit(_P_IMG1_PRE), s(d % 300), F.lit(_P_IMG1_POST)),
        ).otherwise(F.lit("")),
        _san(F.expr("substring(text, 1 + page_no * 60, 120)")),
        F.when(dp % 6 == 0, F.lit("\n" + _P_IMG2)).otherwise(F.lit("")),
        F.when(dp % 13 == 0, F.lit(_P_MALF)).otherwise(F.lit("")),
        F.when(
            dp % 5 == 0,
            F.lit("\nx \\coloneqq y \\eqqcolon z\n\n\n\n<center>mid</center>"),
        ).otherwise(F.lit("")),
        F.when((dp % 3 > 0) & (d % 31 > 0), F.lit(EOS_SENTINEL)).otherwise(
            F.lit("")
        ),
    )
    return pages.select(
        s(d).alias("doc_id"), p.cast("int").alias("page_no"), content.alias("content")
    )


def pipeline_a_extract_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship raw-page pipeline (run_dpsk_ocr_pdf.py:286-320 semantics):
    the REAL extract_pdf operator (pandas-UDF page extraction → jdx window
    → single-shuffle doc assembly) over the documents-derived page corpus;
    per-doc metrics row, DuckDB-oracled by SQL_PIPE_A."""
    from .operators.extraction import extract_pdf

    out = extract_pdf(_pipe_pages(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("pages_in").cast("bigint").alias("pages_in"),
        F.col("pages_kept").cast("bigint").alias("pages_kept"),
        F.col("parse_failures").cast("bigint").alias("parse_failures"),
        F.col("blocks_dropped").cast("bigint").alias("blocks_dropped"),
        F.col("media_spans").cast("bigint").alias("media_spans"),
        F.col("char_yield").cast("bigint").alias("char_yield"),
    )


_PIPE_MD = "'![](images/' || CAST(jdx AS VARCHAR) || '_{idx}.jpg)' || chr(10)"

SQL_PIPE_A = f"""
WITH pages AS (
  SELECT doc_id, text, r.range AS page_no
  FROM documents CROSS JOIN range(0, 4) r
  WHERE r.range <= CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END
),
built AS (
  SELECT doc_id, page_no,
    (doc_id + page_no) % 4 = 0 AS has_img1,
    (doc_id + page_no) % 6 = 0 AS has_img2,
    '{_P_IMG1_PRE}' || CAST(doc_id % 300 AS VARCHAR) || '{_P_IMG1_POST}' AS img1,
    '<|ref|>title<|/ref|><|det|>[[' || CAST((doc_id * 3 + page_no) % 900 AS VARCHAR)
      || ',10,' || CAST(doc_id % 500 + 110 AS VARCHAR) || ',48]]<|/det|># H '
      || CAST(doc_id AS VARCHAR) || '-' || CAST(page_no AS VARCHAR) || chr(10)
    || CASE WHEN (doc_id + page_no) % 4 = 0 THEN
         '{_P_IMG1_PRE}' || CAST(doc_id % 300 AS VARCHAR) || '{_P_IMG1_POST}'
       ELSE '' END
    || {_SAN_SQL.format(col="substr(text, 1 + page_no * 60, 120)")}
    || CASE WHEN (doc_id + page_no) % 6 = 0 THEN chr(10) || '{_P_IMG2}' ELSE '' END
    || CASE WHEN (doc_id + page_no) % 13 = 0 THEN '{_P_MALF}' ELSE '' END
    || CASE WHEN (doc_id + page_no) % 5 = 0 THEN chr(10) || 'x \\coloneqq y \\eqqcolon z'
         || repeat(chr(10), 4) || '<center>mid</center>' ELSE '' END
    || CASE WHEN (doc_id + page_no) % 3 > 0 AND doc_id % 31 > 0
         THEN '{EOS_SENTINEL}' ELSE '' END AS content
  FROM pages
),
flags AS (
  SELECT doc_id, page_no, has_img1, has_img2, img1,
    CASE WHEN contains(content, '{EOS_SENTINEL}') THEN 1 ELSE 0 END AS kept,
    replace(content, '{EOS_SENTINEL}', '') AS c0
  FROM built
),
jdxed AS (
  SELECT *, SUM(kept) OVER (
    PARTITION BY doc_id ORDER BY page_no ROWS UNBOUNDED PRECEDING) - 1 AS jdx
  FROM flags
),
r1 AS (
  SELECT doc_id, page_no, kept, has_img1, has_img2, jdx,
    CAST(len(list_filter(regexp_extract_all(c0, '{REF_PAT}', 2),
         x -> NOT regexp_matches(x, '{DET_OK_PAT}'))) AS BIGINT) AS pf,
    CAST(len(regexp_extract_all(c0, '{REF_PAT}')) AS BIGINT)
      - (CASE WHEN has_img1 THEN 1 ELSE 0 END)
      - (CASE WHEN has_img2 THEN 1 ELSE 0 END) AS n_other,
    (CASE WHEN has_img1 THEN 1 ELSE 0 END)
      + (CASE WHEN has_img2 THEN 1 ELSE 0 END) AS n_img,
    CASE WHEN has_img1
      THEN replace(c0, img1, {_PIPE_MD.format(idx="0")})
      ELSE c0 END AS c1
  FROM jdxed
),
r2 AS (
  SELECT doc_id, page_no, kept, pf, n_other, n_img,
    CASE WHEN has_img2
      THEN replace(c1, '{_P_IMG2}', '![](images/' || CAST(jdx AS VARCHAR) || '_'
             || (CASE WHEN has_img1 THEN '1' ELSE '0' END) || '.jpg)' || chr(10))
      ELSE c1 END AS c2
  FROM r1
),
cleaned AS (
  SELECT doc_id, page_no, kept, pf, n_other, n_img,
    replace(replace(
      replace(replace(regexp_replace(c2, '{REF_PAT}', '', 'g'),
        '\\coloneqq', ':='), '\\eqqcolon', '=:'),
      repeat(chr(10), 4), repeat(chr(10), 2)),
      repeat(chr(10), 3), repeat(chr(10), 2)) AS clean
  FROM r2
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS pages_in,
  CAST(SUM(kept) AS BIGINT) AS pages_kept,
  CAST(SUM(CASE WHEN kept = 1 THEN pf ELSE 0 END) AS BIGINT) AS parse_failures,
  CAST(SUM(CASE WHEN kept = 1 THEN n_other ELSE 0 END) AS BIGINT) AS blocks_dropped,
  CAST(SUM(CASE WHEN kept = 1 THEN n_img ELSE 0 END) AS BIGINT) AS media_spans,
  CAST(length(COALESCE(string_agg(
    CASE WHEN kept = 1 THEN clean || chr(10) || chr(10) || '<--- Page Split --->' || chr(10) END,
    '' ORDER BY page_no), '')) AS BIGINT) AS char_yield
FROM cleaned GROUP BY doc_id
"""


def _pipe_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, spans) in the input_hint shape, derived from the
    driver's documents table; mirrored by SQL_PIPE_B's slots CTE."""
    df = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731

    def sp(kind: str, text: F.Column) -> F.Column:
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )

    title = F.concat(
        F.lit("<|ref|>title<|/ref|><|det|>[["),
        s(d % 900),
        F.lit(",10,"),
        s(d % 500 + 110),
        F.lit(",48]]<|/det|># Heading "),
        s(d),
    )
    img1 = F.concat(F.lit(_P_IMG1_PRE), s(d % 300), F.lit(_P_IMG1_POST))
    body = F.concat(F.lit("<td>"), _san(F.col("text")), F.lit("</td>"))
    spin = F.concat(
        F.lit("begin "),
        F.expr(f"repeat('{_P_SPIN}', cast(2 + doc_id % 3 as int))"),
        F.lit("end"),
    )
    entries = F.array(
        sp("title", title),
        F.when(d % 4 == 0, sp("image", img1)),
        sp("table", body),
        F.when(d % 6 == 0, sp("image", F.lit(_P_IMG2))),
        F.when(
            d % 5 == 0,
            sp("text", F.lit("x \\coloneqq y \\eqqcolon z\n\n\n\n<center>mid</center>")),
        ),
        F.when(d % 7 == 0, sp("text", spin)),
        F.when(d % 9 == 0, sp("footer", F.lit(_P_FOOT))),
        F.when(d % 13 == 0, sp("text", F.lit(_P_MALF + " det tail"))),
        F.when(d % 11 == 0, sp("text", F.lit(" \n\t "))),
        F.when(
            d % 17 == 0,
            sp("text", F.lit("<|ref|>footnote<|/ref|><|det|>[[5,5,9,9]]<|/det|>")),
        ),
    )
    spans = F.transform(
        F.filter(entries, lambda x: x.isNotNull()),
        lambda x, i: F.struct(
            x["kind"].alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return df.select(s(d).alias("doc_id"), spans.alias("spans"))


def pipeline_b_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship interleaved span-table extraction (input_hint shape): the
    REAL extract_spans operator (zero-shuffle, zero-Python array program)
    over the documents-derived span corpus; exploded to flat rows,
    DuckDB-oracled by SQL_PIPE_B."""
    from .operators.spans_pipeline import extract_spans

    out = extract_spans(_pipe_documents(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), F.explode("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        # '' sentinel for non-media spans: the driver compare sorts rows
        # column-wise and a sort tie reaching a NULL column crashes tuple
        # ordering (the s7 hazard class — tools/scan_null_ties.py)
        F.coalesce(F.col("span.media_ref"), F.lit("")).alias("media_ref"),
        F.col("span.offset").cast("bigint").alias("offset"),
    )


# general clean chain (mirrors _clean_text_expr, spans_pipeline.py:49-57)
_CLEAN_SQL = (
    "regexp_replace(replace(replace(replace(replace("
    "regexp_replace({col}, '" + REF_PAT + "', '', 'g'), "
    "'\\coloneqq', ':='), '\\eqqcolon', '=:'), '<center>', ''), '</center>', ''), "
    "'\\n{{3,}}', chr(10) || chr(10), 'g')"
)

SQL_PIPE_B = f"""
WITH base AS (
  SELECT doc_id, {_SAN_SQL.format(col="text")} AS body FROM documents
),
slots AS (
  SELECT doc_id, 0 AS slot, 'title' AS kind,
    '<|ref|>title<|/ref|><|det|>[[' || CAST(doc_id % 900 AS VARCHAR) || ',10,'
      || CAST(doc_id % 500 + 110 AS VARCHAR) || ',48]]<|/det|># Heading '
      || CAST(doc_id AS VARCHAR) AS txt
  FROM base
  UNION ALL
  SELECT doc_id, 1, 'image',
    '{_P_IMG1_PRE}' || CAST(doc_id % 300 AS VARCHAR) || '{_P_IMG1_POST}'
  FROM base WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 2, 'table', '<td>' || body || '</td>' FROM base
  UNION ALL
  SELECT doc_id, 3, 'image', '{_P_IMG2}' FROM base WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id, 4, 'text', 'x \\coloneqq y \\eqqcolon z' || repeat(chr(10), 4)
    || '<center>mid</center>' FROM base WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 5, 'text',
    'begin ' || repeat('{_P_SPIN}', CAST(2 + doc_id % 3 AS INT)) || 'end'
  FROM base WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 6, 'footer', '{_P_FOOT}' FROM base WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id, 7, 'text', '{_P_MALF} det tail' FROM base WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id, 8, 'text', ' ' || chr(10) || chr(9) || ' '
  FROM base WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, 9, 'text', '<|ref|>footnote<|/ref|><|det|>[[5,5,9,9]]<|/det|>'
  FROM base WHERE doc_id % 17 = 0
),
media_seq AS (
  SELECT doc_id, slot,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY slot) - 1 AS midx
  FROM slots WHERE kind = 'image'
),
rewritten AS (
  SELECT s.doc_id, s.slot,
    CASE WHEN s.kind = 'image' THEN 'media' ELSE s.kind END AS kind,
    CASE
      WHEN s.kind = 'image'
        THEN '![](images/' || CAST(m.midx AS VARCHAR) || '.jpg)' || chr(10)
      -- spin slot: k>=2 exact copies of the 4-token phrase -> the
      -- backreference collapse provably yields exactly 2 copies
      WHEN s.slot = 5 THEN 'begin {_P_SPIN}{_P_SPIN}end'
      ELSE {_CLEAN_SQL.format(col="s.txt")}
    END AS text,
    CASE WHEN s.kind = 'image'
      THEN 'images/' || CAST(m.midx AS VARCHAR) || '.jpg' END AS media_ref
  FROM slots s
  LEFT JOIN media_seq m ON m.doc_id = s.doc_id AND m.slot = s.slot
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, kind, text,
  COALESCE(media_ref, '') AS media_ref,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY slot) - 1 AS BIGINT)
    AS "offset"
FROM rewritten
WHERE kind = 'media'
   OR (kind NOT IN ('footer', 'nav') AND regexp_matches(text, '\\S'))
"""


# ---------------------------------------------------------------------------
# curation layer under the driver gate (round 5, VERDICT r4 #1): the five
# operators a training-data user runs first — exact-substring dedup,
# Gopher repetition signals, benchmark decontamination, semantic dedup,
# PII redaction — each with a full DuckDB oracle. Window identity on the
# Spark side is the 64-bit rolling polynomial hash (substring_dedup.py);
# the oracles use the literal window STRING — equality of token
# sequences ⟺ equality of joined strings (tokens are \s+-split, so they
# contain no separator), and hash-vs-string divergence is a ~2⁻⁶⁴
# collision the gate would expose.
# ---------------------------------------------------------------------------

# 12-token boilerplate passage appended to every 20th doc — the license-
# header shape substring dedup exists for (cross-doc repeated passage,
# invisible to doc-level dedup).
_U1_PASSAGE = (
    "license header alpha beta gamma delta epsilon zeta eta theta iota kappa"
)
_U1_N = 8


def _docs_with_planted_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat("text", F.lit(" " + _U1_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def u1_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup (ExactSubstr, Lee et al.
    2022) over a passage-planted corpus: one row per doc per MERGED
    flagged token interval, globally-first site exempt
    (operators/substring_dedup.py). The 25 planted docs share the
    passage's 5 pure windows (plus any boundary windows sharing a
    suffix), so every planted doc except the min-id one emits an
    interval; natural vocab-30 collisions are mirrored by the oracle."""
    from .operators.substring_dedup import substring_dup_spans

    spans = substring_dup_spans(
        _docs_with_planted_passage(spark, sf_dir), n=_U1_N
    )
    return spans.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "start_ord",
        "end_ord",
    )


# corpus CTE + \s+ token arrays, shared by u1; windows are built by
# slicing the token array over a per-row range list (DuckDB 1.0 has no
# lateral range table function — rule 8 family)
_U1_CORPUS_CTE = f"""
corpus AS (
  SELECT doc_id, text || ' {_U1_PASSAGE}' AS text
  FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
)
"""


def _sql_wins(n: int, src: str = "toks") -> str:
    """(doc_id, ord, w) rows of every n-token window of ``src``'s token
    array column t — 0-based ord, space-joined window string."""
    rng = f"range(1, greatest(len(t) - {n} + 2, 1))"
    return f"""
  SELECT doc_id,
    unnest(list_transform({rng}, i -> i - 1)) AS ord,
    unnest(list_transform({rng}, i -> array_to_string(t[i:i+{n - 1}], ' '))) AS w
  FROM {src}
"""


def _sql_u1() -> str:
    return rf"""
WITH {_U1_CORPUS_CTE.strip()},
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS t
  FROM corpus
),
wins AS ({_sql_wins(_U1_N)}),
fl AS (
  SELECT doc_id, ord FROM (
    SELECT doc_id, ord,
      COUNT(*) OVER (PARTITION BY w) AS c,
      ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id, ord) AS rn
    FROM wins)
  WHERE c > 1 AND rn > 1
),
isl AS (
  SELECT doc_id, ord,
    CASE WHEN lag(ord) OVER w2 IS NULL
           OR ord > lag(ord) OVER w2 + {_U1_N - 1}
         THEN 1 ELSE 0 END AS newi
  FROM fl WINDOW w2 AS (PARTITION BY doc_id ORDER BY ord)
),
isl2 AS (
  SELECT doc_id, ord,
    SUM(newi) OVER (PARTITION BY doc_id ORDER BY ord) AS island
  FROM isl
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(MIN(ord) AS BIGINT) AS start_ord,
  CAST(MAX(ord) + {_U1_N - 1} AS BIGINT) AS end_ord
FROM isl2 GROUP BY doc_id, island
"""


def u2_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals + composite gate (Rae et al. 2021 Table
    A1; operators/quality.py) over a line-planted corpus: every 7th
    doc's spaces become newlines (the vocab-30 corpus then has heavily
    duplicated lines), the rest are single-line. The n-gram signals are
    naturally non-trivial — a 30-word vocabulary repeats n-grams
    constantly. Kernel accounting (top = max-count gram's coverage with
    coverage tiebreak; dup = summed coverage of count>1 grams; denom =
    sum of line lengths; round 6 then cap at 1.0) mirrored literally."""
    from .operators.quality import repetition_signals

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.translate("text", " ", "\n")
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = repetition_signals(docs)
    return out.withColumn("doc_id", F.col("doc_id").cast("bigint"))


def _sql_u2() -> str:
    from .operators.quality import (
        DUP_LINE_CHAR_FRAC_MAX,
        DUP_LINE_FRAC_MAX,
        DUP_NGRAM_THRESHOLDS,
        TOP_NGRAM_THRESHOLDS,
    )

    top_ns, dup_ns = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    wins_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {n} AS n, ord, w FROM ({_sql_wins(n)})"
        for n in (*top_ns, *dup_ns)
    )
    piv_cols = ",\n    ".join(
        [
            f"MAX(CASE WHEN a.n = {n} THEN a.topcov END) AS top_{n}"
            for n in top_ns
        ]
        + [
            f"MAX(CASE WHEN a.n = {n} THEN a.dupcov END) AS dup_{n}"
            for n in dup_ns
        ]
    )
    frac = (
        "LEAST(COALESCE(ROUND(CAST({v} AS DOUBLE) / "
        "NULLIF(CAST(l.total_chars AS DOUBLE), 0.0), 6), 0.0), 1.0)"
    )
    frac_cols = ",\n  ".join(
        [
            frac.format(v=f"p.top_{n}") + f" AS top_{n}gram_char_frac"
            for n in top_ns
        ]
        + [
            frac.format(v=f"p.dup_{n}") + f" AS dup_{n}gram_char_frac"
            for n in dup_ns
        ]
    )
    gate = " AND ".join(
        [f"dup_line_frac <= {DUP_LINE_FRAC_MAX}"]
        + [f"dup_line_char_frac <= {DUP_LINE_CHAR_FRAC_MAX}"]
        + [
            f"top_{n}gram_char_frac <= {TOP_NGRAM_THRESHOLDS[n]}"
            for n in top_ns
        ]
        + [
            f"dup_{n}gram_char_frac <= {DUP_NGRAM_THRESHOLDS[n]}"
            for n in dup_ns
        ]
    )
    return rf"""
WITH corpus AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN replace(text, ' ', e'\n') ELSE text END AS text
  FROM documents
),
lx AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(coalesce(text, ''), '\n')) AS line
  FROM corpus
),
lc AS (SELECT doc_id, line, COUNT(*) AS c FROM lx GROUP BY doc_id, line),
lstat AS (
  SELECT doc_id,
    SUM(c) AS n_lines,
    SUM(c) - COUNT(*) AS n_dupl,
    SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars,
    SUM(c * length(line)) AS total_chars
  FROM lc GROUP BY doc_id
),
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS t
  FROM corpus
),
wins AS (
{wins_union}
),
gc AS (
  SELECT doc_id, n, w, COUNT(*) AS c, length(w) AS glen
  FROM wins GROUP BY doc_id, n, w, length(w)
),
agg1 AS (
  SELECT doc_id, n, MAX(c) AS mx,
    SUM(CASE WHEN c > 1 THEN c * glen ELSE 0 END) AS dupcov
  FROM gc GROUP BY doc_id, n
),
agg2 AS (
  SELECT g.doc_id, g.n, a.dupcov, MAX(g.c * g.glen) AS topcov
  FROM gc g JOIN agg1 a ON a.doc_id = g.doc_id AND a.n = g.n AND g.c = a.mx
  GROUP BY g.doc_id, g.n, a.dupcov
),
piv AS (
  SELECT c.doc_id,
    {piv_cols}
  FROM corpus c LEFT JOIN agg2 a ON a.doc_id = c.doc_id
  GROUP BY c.doc_id
),
fr AS (
  SELECT CAST(l.doc_id AS BIGINT) AS doc_id,
  COALESCE(ROUND(CAST(l.n_dupl AS DOUBLE) /
      NULLIF(CAST(l.n_lines AS DOUBLE), 0.0), 6), 0.0) AS dup_line_frac,
  COALESCE(ROUND(CAST(l.dup_chars AS DOUBLE) /
      NULLIF(CAST(l.total_chars AS DOUBLE), 0.0), 6), 0.0) AS dup_line_char_frac,
  {frac_cols}
  FROM lstat l JOIN piv p ON p.doc_id = l.doc_id
)
SELECT *, ({gate}) AS gopher_repetition_ok FROM fr
"""


_U3_N = 13


def u3_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C, 13-gram overlap;
    operators/substring_dedup.py): the 'benchmark' is every 25th doc's
    token slice [6..45], so those docs (and only docs sharing one of
    those 13-grams) come back contaminated. Train side pays one kernel
    pass + a broadcast semi-join — zero train shuffle."""
    from .operators.substring_dedup import decontaminate

    train = _t(spark, sf_dir, "documents")
    bench = train.filter(F.col("doc_id") % 25 == 0).select(
        F.array_join(F.slice(F.split("text", r"\s+"), 6, 40), " ").alias(
            "text"
        )
    )
    # guard probe skipped: registry constructors stay job-free (the
    # allow_full_scan=True convention); the bound itself is pytest-pinned
    out = decontaminate(train, bench, n=_U3_N, max_benchmark_windows=None)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_hits",
        "contaminated",
    )


def _sql_u3() -> str:
    return rf"""
WITH bench AS (
  SELECT array_to_string((regexp_split_to_array(text, '\s+'))[6:45], ' ') AS text
  FROM documents WHERE doc_id % 25 = 0
),
btoks AS (
  SELECT 0 AS doc_id,
    regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS t
  FROM bench
),
bwins AS (SELECT DISTINCT w FROM ({_sql_wins(_U3_N, "btoks")})),
ttoks AS (
  SELECT doc_id, regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS t
  FROM documents
),
twins AS ({_sql_wins(_U3_N, "ttoks")}),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_hits
  FROM twins t JOIN bwins b ON b.w = t.w GROUP BY t.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
  COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


# 64 cells (was 16): SemDeDup's scale knob is the cell count — within-
# cell comparison is quadratic, so cells grow with the corpus (the paper
# runs ~100k on LAION). At sf0.1's 66k vectors, 16 cells meant ~4.1k-row
# cells ≈ 136M pair-dots; 64 cells cuts the pair work ~4x (u4 bench
# 7.4 → ~4 s) while planted near-dups (cos ≈ 1) still co-cell with
# their source at any cell count. The oracle mirrors the same centroid
# literals, so the gate is cell-count-invariant.
_U4_CELLS, _U4_BASE, _U4_THRESHOLD = 64, 100, 0.99


def u4_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023; operators/similarity.py:
    semantic_dedup) over the planted-dup vector corpus: quantizer cells
    (deterministic seeded centroids = corpus vectors with ids
    [100, 116), the s3 convention, inlined as literals) → within-cell
    cosine ≥ 0.99 → transitive cluster collapse, one canonical kept per
    cluster. cluster_id NULL ⇒ no duplicate — emitted as the -1
    sentinel (null-tie hazard, tools/scan_null_ties.py)."""
    from .operators.similarity import semantic_dedup

    vecs = _vecs_with_planted_dups(spark, sf_dir)
    seeds = (
        vecs.filter(
            (F.col("vec_id") >= _U4_BASE)
            & (F.col("vec_id") < _U4_BASE + _U4_CELLS)
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in seeds]
    out = semantic_dedup(
        vecs, threshold=_U4_THRESHOLD, n_cells=_U4_CELLS, centroids=cents
    )
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.coalesce(F.col("cluster_id"), F.lit(-1))
        .cast("bigint")
        .alias("cluster_id"),
        "kept",
    )


def _sql_u4() -> str:
    sq = (
        "list_sum(list_transform(list_zip({v}, {c}),"
        " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
        " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))))"
    )
    return f"""
WITH RECURSIVE {_VAUG_CTE.strip()},
cents AS (
  SELECT CAST(vec_id - {_U4_BASE} AS INTEGER) AS cell, embedding AS cvec
  FROM vaug WHERE vec_id >= {_U4_BASE} AND vec_id < {_U4_BASE + _U4_CELLS}
),
vd AS (
  SELECT v.vec_id, c.cell, {sq.format(v="v.embedding", c="c.cvec")} AS d
  FROM vaug v CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rk
  FROM vd
),
vcell AS (SELECT vec_id, cell FROM rk WHERE rk = 1),
prs AS (
  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
  FROM vcell x
  JOIN vcell y ON y.cell = x.cell AND x.vec_id < y.vec_id
  JOIN vaug a ON a.vec_id = x.vec_id
  JOIN vaug b ON b.vec_id = y.vec_id
  WHERE ROUND({_COS_AB}, 6) >= {_U4_THRESHOLD}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM prs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM prs
),
reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
),
lab AS (
  SELECT node, LEAST(node, MIN(r)) AS cluster_id FROM reach GROUP BY node
)
SELECT CAST(v.vec_id AS BIGINT) AS vec_id,
  CAST(COALESCE(l.cluster_id, -1) AS BIGINT) AS cluster_id,
  (l.cluster_id IS NULL OR v.vec_id = l.cluster_id) AS kept
FROM vaug v LEFT JOIN lab l ON l.node = v.vec_id
"""


def _pii_corpus_expr():
    """Deterministic PII-planted text from (doc_id): emails always,
    phones/IPs + adversarial non-matches on residue classes. Plants are
    space-separated (never adjacent to other digits/dots/dashes) so the
    Java lookaround patterns and the oracle's RE2 captured-context
    equivalents provably agree — the adversarial rows pin the
    guard behavior itself (digit-run phones, 5-part dotted runs)."""
    d = F.col("doc_id")
    seg = [
        F.concat(
            F.lit("u"),
            d.cast("string"),
            F.lit(" mail bob"),
            (d % 50).cast("string"),
            F.lit("@ex"),
            (d % 9).cast("string"),
            F.lit(".org stop"),
        ),
        F.when(
            d % 4 == 0,
            F.concat(F.lit(" call 555-123-"), (1000 + d % 9000).cast("string")),
        ).otherwise(F.lit("")),
        F.when(d % 4 == 1, F.lit(" bad 555-123-45678 run")).otherwise(
            F.lit("")
        ),
        F.when(d % 3 == 0, F.lit(" x (555) 867-5309 y")).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" ip 10."),
                (d % 256).cast("string"),
                F.lit(".3."),
                (d % 250).cast("string"),
                F.lit(" end"),
            ),
        ).otherwise(F.lit("")),
        F.when(d % 5 == 1, F.lit(" ver 1.2.3.4.5 here")).otherwise(F.lit("")),
        F.lit(" ok"),
    ]
    return F.concat(*seg)


_PII_CORPUS_SQL = """
corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    'u' || CAST(doc_id AS VARCHAR)
    || ' mail bob' || CAST(doc_id % 50 AS VARCHAR)
    || '@ex' || CAST(doc_id % 9 AS VARCHAR) || '.org stop'
    || CASE WHEN doc_id % 4 = 0
         THEN ' call 555-123-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
         ELSE '' END
    || CASE WHEN doc_id % 4 = 1 THEN ' bad 555-123-45678 run' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN ' x (555) 867-5309 y' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
         THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.3.' || CAST(doc_id % 250 AS VARCHAR) || ' end'
         ELSE '' END
    || CASE WHEN doc_id % 5 = 1 THEN ' ver 1.2.3.4.5 here' ELSE '' END
    || ' ok' AS text
  FROM documents
)
"""


def u5_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (Dolma sentinel convention;
    operators/quality.py) over the deterministic PII-planted corpus:
    per-kind counts from the ORIGINAL text, then typed-sentinel
    replacement in email → phone → ip order."""
    from .operators.quality import pii_signals, redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _pii_corpus_expr().alias("text"),
    )
    return redact_pii(pii_signals(docs)).select(
        "doc_id", "n_email", "n_phone", "n_ip", "text"
    )


def _sql_u5() -> str:
    """RE2 (DuckDB) cannot express the Java patterns' lookarounds; the
    oracle uses captured-context equivalents — (^|[^0-9-])(…)([^0-9-]|$)
    with backref reinsertion — which agree with the lookaround forms on
    any corpus whose PII candidates are isolated by spaces (this planted
    corpus is, by construction)."""
    from .operators.quality import PII_PATTERNS, PII_SENTINELS

    email = PII_PATTERNS["email"].replace("'", "''")
    # strip the Java lookarounds, re-wrap with RE2 captured context
    phone_core = r"(\+?1[-. ]?)?(\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}"
    phone_wrap = r"(^|[^0-9-])(" + phone_core + r")([^0-9-]|$)"
    octet = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    ip_wrap = (
        r"(^|[^0-9.])((" + octet + r"\.){3}" + octet + r")([^0-9.]|$)"
    )
    em_s, ph_s, ip_s = (
        PII_SENTINELS["email"],
        PII_SENTINELS["phone"],
        PII_SENTINELS["ip"],
    )
    return f"""
WITH {_PII_CORPUS_SQL.strip()}
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{phone_wrap}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '{ip_wrap}')) AS BIGINT) AS n_ip,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{email}', '{em_s}', 'g'),
    '{phone_wrap}', '\\1{ph_s}\\5', 'g'),
    '{ip_wrap}', '\\1{ip_s}\\6', 'g') AS text
FROM corpus
"""


# Fixed per-domain sampling rates for the u6 gate query. Constants (not
# data-derived) so the oracle can inline the EXACT integer thresholds
# Python computes — the gate then has zero float arithmetic on either
# engine at any sf. The data-dependent rate derivation
# (mixing.temperature_rates) is pure driver arithmetic, unit-tested
# without Spark. Rates chosen to hit every gate regime: subsample
# (0.4, 0.625), exact keep (1.0), and fractional epoch upsample
# (1.75, 2.5).
U6_RATES = {"en": 0.4, "fr": 0.625, "de": 1.0, "zh": 1.75, "es": 2.5}
U6_HOLDOUT = 0.05


def u6_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing (operators/mixing.py): hash-range
    holdout split carved FIRST, then per-domain temperature sampling
    with epoch upsampling over the train split. Every row's fate is a
    pure function of (doc_id, salt) via the rule-12 portable 28-bit
    hash — any engine reproduces the identical sample (the property
    `df.sample(seed)` lacks: its per-partition-index seeding makes task
    retries non-reproducible). Zero shuffle: tag + when-chain gate +
    epoch explode + union are all narrow (plan-pinned).

    Reference anchor: decode-time temperature sampling
    (mlx_port/inference/generation_mlx.py:50-183) replaced per
    north_star by its training-corpus analogue (mT5/XLM-R
    alpha-sampling; Rae et al. 2021 §A3 mixture tables)."""
    from .operators.mixing import apply_domain_rates, holdout_split

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )
    tagged = holdout_split(docs, U6_HOLDOUT)
    mixed = apply_domain_rates(
        tagged.filter(F.col("split") == "train").drop("split"), U6_RATES
    ).select(
        "doc_id",
        "lang",
        F.col("epoch").cast("int").alias("epoch"),
        F.lit("train").alias("split"),
    )
    holdout = tagged.filter(F.col("split") == "holdout").select(
        "doc_id", "lang", F.lit(-1).cast("int").alias("epoch"), "split"
    )
    return mixed.unionByName(holdout)


def _sql_u6() -> str:
    """Thresholds are inlined integer literals computed by the SAME
    Python (_rate_to_copies) the Spark side uses — valid at any sf
    because U6_RATES/U6_HOLDOUT are constants, not data-derived. Both
    engines then compare 28-bit md5-prefix integers; no float reaches
    the gate."""
    from .operators.mixing import _rate_to_copies

    _, hthr = _rate_to_copies(U6_HOLDOUT)
    vals = ", ".join(
        f"('{lang}', {b}, {t})"
        for lang, (b, t) in sorted(
            (lang, _rate_to_copies(rate)) for lang, rate in U6_RATES.items()
        )
    )
    max_copies = max(int(r) + 1 for r in U6_RATES.values())
    return f"""
WITH keyed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':holdout'), 1, 7))::BIGINT AS hk,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 7))::BIGINT AS mk
  FROM documents
),
rates(lang, base_copies, thr) AS (VALUES {vals}),
train AS (
  SELECT k.doc_id, k.lang,
    r.base_copies + CASE WHEN k.mk < r.thr THEN 1 ELSE 0 END AS n
  FROM keyed k JOIN rates r USING (lang)
  WHERE k.hk >= {hthr}
)
SELECT doc_id, lang, CAST(r.range AS INT) AS epoch, 'train' AS split
FROM train, range(0, {max_copies}) r WHERE r.range < n
UNION ALL
SELECT doc_id, lang, CAST(-1 AS INT) AS epoch, 'holdout' AS split
FROM keyed WHERE hk < {hthr}
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql | None)
#
# Ordering note: the two flagship pipelines lead so a driver-side cap or
# wall-clock cutoff can never silently drop them from the correctness
# report again (CORRECTNESS_r02 reported exactly the first 50 of 51
# entries and pipeline_a — then last — vanished; the registry is now
# exactly 50 entries: x5 was folded into x5b, its strict superset, and
# remains function+SQL+test covered as the documented degenerate case).
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "pipeline_b_extract_spans": (pipeline_b_extract_spans, SQL_PIPE_B),
    "pipeline_a_extract_pdf": (pipeline_a_extract_pdf, SQL_PIPE_A),
    "q_agg_pricing_summary": (q_agg_pricing_summary, SQL_PRICING),
    "q_join_top_customers": (q_join_top_customers, SQL_TOP_CUSTOMERS),
    "q_join_part_type_revenue": (q_join_part_type_revenue, SQL_PART_TYPE_REVENUE),
    "q_window_running_lag": (q_window_running_lag, SQL_RUNNING_LAG),
    "q_topk_daily_users": (q_topk_daily_users, SQL_TOPK_DAILY),
    "q_setops_priority_customers": (q_setops_priority_customers, SQL_SETOPS),
    "q_join3_region_revenue": (q_join3_region_revenue, SQL_JOIN3),
    "q_salted_event_agg": (q_salted_event_agg, SQL_EVENT_AGG),
    "x1_grounding_scan": (x1_grounding_scan, SQL_X1),
    "x3_det_parse_rescale": (x3_det_parse_rescale, SQL_X3B),
    "x5b_media_ref_multipage": (x5b_media_ref_multipage, SQL_X5B),
    "x6_clean_rewrite": (x6_clean_rewrite, SQL_X6),
    "f1_ngram_ban": (f1_ngram_ban, SQL_F1),
    "f1b_ngram_suppress": (f1b_ngram_suppress, SQL_F1B),
    "f2_eos_page_gate": (f2_eos_page_gate, SQL_F2),
    "t5_page_concat": (t5_page_concat, SQL_T5),
    "a1_token_quality": (a1_token_quality, SQL_A1),
    "c1_corpus_clean": (c1_corpus_clean, SQL_C1),
    "d1_exact_dedup": (d1_exact_dedup, SQL_D1),
    "t3_formula_clean": (t3_formula_clean, SQL_T3),
    "t6_locate_spans": (t6_locate_spans, SQL_T6),
    # p1 merged into p2 (r5): the tile table carries the full page-grain
    # grid plan, so one slot verifies P1+P2+P3; p1_tile_planner stays as
    # the operator entry point (plan-pinned in test_plan_shapes).
    "p2_dynamic_tiling": (p2_dynamic_tiling, _sql_p2()),
    "p4_pad_token_layout": (p4_pad_token_layout, _sql_p4()),
    "p5_normalize": (p5_normalize, SQL_P5),
    "p7b_sequence_packing": (p7b_sequence_packing, SQL_P7B),
    "s7_annotation_plan": (s7_annotation_plan, _sql_s7()),
    "s8_geometry_plot": (s8_geometry_plot, SQL_S8),
    "d2_ngram_jaccard": (d2_ngram_jaccard, SQL_D2),
    "d3_minhash_lsh": (d3_minhash_lsh, _sql_d3()),
    "d4_simhash": (d4_simhash, _sql_d4()),
    "d5_embedding_dup": (d5_embedding_dup, _sql_d5()),
    "d6_dup_clusters": (d6_dup_clusters, _sql_d6()),
    "u1_substring_dedup": (u1_substring_dedup, _sql_u1()),
    "u2_repetition_signals": (u2_repetition_signals, _sql_u2()),
    "u3_decontaminate": (u3_decontaminate, _sql_u3()),
    "u4_semantic_dedup": (u4_semantic_dedup, _sql_u4()),
    "u5_redact_pii": (u5_redact_pii, _sql_u5()),
    "u6_corpus_mix": (u6_corpus_mix, _sql_u6()),
    "s1_knn_bruteforce": (s1_knn_bruteforce, SQL_S1),
    "s2_knn_lsh": (s2_knn_lsh, _sql_s2()),
    "s3_knn_ivf": (s3_knn_ivf, _sql_s3()),
    "m1_media_join": (m1_media_join, SQL_M1),
    "m2_metrics_json": (m2_metrics_json, SQL_M2),
    "b1_boilerplate_classify": (b1_boilerplate_classify, SQL_B1),
    "b2_main_content": (b2_main_content, SQL_B2),
    "l1_reading_order": (l1_reading_order, SQL_L1),
    "l2_font_runs": (l2_font_runs, SQL_L2),
    "sd1_stream_dedup": (sd1_stream_dedup, SQL_SD1),
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
