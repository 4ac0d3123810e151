"""Advanced parity suite: OLAP group-bys, non-equi/temporal joins, window
frames, deterministic sampling, IVF ANN.

These extend SURVEY.md §2 beyond the reference's literal surface with the
operator families a production lakehouse + training-data pipeline needs
(rollup/cube/grouping-sets/pivot are native Spark; as-of join and
sessionization are scalable compositions — see operators/temporal.py;
sampling is hash-deterministic — see operators/sampling.py). Every query
has a full DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve under
                     # postponed annotations (PEP 563 stringifies them)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import local_df

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.aggregates import decimal_sum, decimal_sum_sql
from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.kmeans_sql import (
    CENT_SAMPLE_SQL,
    K_HIER_SQL,
    km2_train_ctes,
    km_train_ctes,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sampling import hash_split, stratified_hash_sample
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import topk_ivf
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.temporal import (
    asof_join,
    interval_join,
    session_stats,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.sources.io import load_table


# ---------------------------------------------------------------------------
# OLAP group-bys: rollup / cube / grouping sets / pivot
# ---------------------------------------------------------------------------

def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-group, per-flag subtotal,
    grand total — one shuffle, Spark expands grouping sets internally."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        decimal_sum(F.col("l_quantity"), 2).alias("sum_qty"),
    )


ORACLE_AGG_ROLLUP = f"""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       {decimal_sum_sql('l_quantity', 2)} AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        decimal_sum(F.col("o_totalprice"), 2).alias("sum_price"),
    )


ORACLE_AGG_CUBE = f"""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       {decimal_sum_sql('o_totalprice', 2)} AS sum_price
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority), ()) via the SQL entry
    point — same Expand-based plan as rollup/cube."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping_id() AS gid,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


ORACLE_AGG_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: rows = priority, columns = status. Explicit
    value list — a values-less pivot runs an extra distinct job and is
    nondeterministic column-wise."""
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.na.fill(0, ["F", "O", "P"])


ORACLE_PIVOT_STATUS = """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS "F",
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS "O",
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS "P"
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# non-equi / temporal joins
# ---------------------------------------------------------------------------

def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join: lineitem quantity binned against a tiny tier
    table on lo < qty <= hi. The tier side broadcasts, so the non-equi
    condition runs as a broadcast nested-loop over 3 rows — no shuffle of
    the fact table at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    tiers = local_df(spark,
        [("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 51.0)],
        "tier string, lo double, hi double",
    )
    joined = li.join(
        F.broadcast(tiers),
        (F.col("l_quantity") > F.col("lo")) & (F.col("l_quantity") <= F.col("hi")),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n"),
        decimal_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
    )


ORACLE_JOIN_RANGE = f"""
WITH tiers(tier, lo, hi) AS (
    VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0), ('high', 25.0, 51.0)
)
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n,
       {decimal_sum_sql('l_extendedprice', 2)} AS sum_price
FROM lineitem JOIN tiers ON l_quantity > lo AND l_quantity <= hi
GROUP BY tier
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the user's most recent
    prior-or-equal purchase. Union+window formulation (one shuffle on
    user_id) — the oracle uses DuckDB's native ASOF LEFT JOIN, proving
    the semantics match the standard definition."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_event_id")
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["p_event_id"],
    )
    return out.select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("ts_us"),
        "p_event_id_matched",
    )


ORACLE_JOIN_ASOF = """
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
       p.event_id AS p_event_id_matched
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) of the event stream, rolled up to
    session level: count + span per (user, session)."""
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, key="user_id", ts_col="ts", gap=1800, order_tiebreak="event_id")


ORACLE_SESSIONIZE = """
WITH o AS (
    SELECT user_id, event_id, ts, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
), b AS (
    SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS nb
    FROM o
), s AS (
    SELECT *, CAST(SUM(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
    FROM b
)
SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us
FROM s GROUP BY user_id, session_idx
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (big×big non-equi, the classic Spark scale
    killer): every event that falls inside any panel user's session
    window. Binning turns the raw inequality join — which Spark would
    plan as a broadcast nested loop — into an equi-join on the 30-min
    bin key plus an exact post-filter (plan-asserted in tests)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    panel = session_stats(
        ev.where(F.col("user_id") % 50 == 0),
        key="user_id",
        ts_col="ts",
        gap=1800,
        order_tiebreak="event_id",
    ).select(
        F.col("user_id").alias("panel_user"),
        "session_idx",
        "start_us",
        "end_us",
    )
    out = interval_join(pts, panel, "us", "start_us", "end_us", bin_width=1_800_000_000)
    return out.select("event_id", "user_id", "us", "panel_user", "session_idx")


ORACLE_INTERVAL_JOIN = """
WITH o AS (
    SELECT user_id, event_id, ts, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events WHERE user_id % 50 = 0
), b AS (
    SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS nb
    FROM o
), s AS (
    SELECT *, CAST(SUM(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
    FROM b
), panel AS (
    SELECT user_id AS panel_user, session_idx,
           MIN(us) AS start_us, MAX(us) AS end_us
    FROM s GROUP BY user_id, session_idx
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS us, p.panel_user, p.session_idx
FROM events e JOIN panel p
  ON epoch_us(e.ts) BETWEEN p.start_us AND p.end_us
"""


def q_window_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame: per-user running total of (floor-quantized)
    event value in time order. Covers rowsBetween frame specs, absent
    from the reference (SURVEY.md §2.5 'only default frames')."""
    ev = load_table(spark, sf_dir, "events")
    qv = F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.sum(qv).over(w).alias("running_value_q")
    )


ORACLE_WINDOW_FRAME_SUM = """
SELECT event_id, user_id,
       CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_value_q
FROM events
"""


# ---------------------------------------------------------------------------
# deterministic sampling / splits
# ---------------------------------------------------------------------------

def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per-user count of events in the trailing 10 minutes
    (value-based frame over integer microseconds — completes the frame
    surface next to window_frame_sum's ROWS frame)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_last_10m")
    )


ORACLE_WINDOW_RANGE_FRAME = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_last_10m
FROM events
"""


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/valid/test split, pure function of doc_id — stable
    under repartitioning and reruns (df.sample is neither)."""
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "split")


ORACLE_SAMPLE_SPLIT = """
WITH h AS (  -- pmod key reduction, negative-key safe like the Spark side
    SELECT doc_id,
           ((1103515245::BIGINT * ((doc_id % 2147483647 + 2147483647) % 2147483647)
             + 12345) % 2147483647) % 100 AS b
    FROM documents
)
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
FROM h
"""


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain mixing (T=2, operators/sampling.
    temperature_resample): documents are tiered by length into a skewed
    domain distribution, then each domain keeps rate sqrt(n_min/n_d) —
    the smallest tier survives whole, a 4x tier keeps half. Output: per
    domain, the total and the deterministically-kept count (pure
    function of doc_id, partitioning-independent)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "domain",
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 400, "medium")
        .otherwise("long"),
    )
    kept = (
        temperature_resample(docs, "doc_id", "domain")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    totals = docs.groupBy("domain").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        totals.join(kept, "domain", "left")
        .select(
            "domain",
            "n_total",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("domain")
    )


# same length tiers, same affine hash, same floor(1e6*sqrt(nmin/n))
# threshold — sqrt is IEEE-correctly-rounded in both engines, so the
# kept set is bit-identical (pow with fractional exponents is not; the
# operator pins alpha=1/2 for exactly this reason)
ORACLE_SAMPLE_TEMPERATURE = """
WITH d AS (
    SELECT doc_id,
           CASE WHEN n_chars < 200 THEN 'short'
                WHEN n_chars < 400 THEN 'medium'
                ELSE 'long' END AS domain
    FROM documents
),
counts AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY domain),
mn AS (SELECT MIN(n) AS nmin FROM counts),
rates AS (
    SELECT domain, n,
           CAST(FLOOR(1000000 * SQRT(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)))
                AS BIGINT) AS thresh
    FROM counts, mn
),
kept AS (
    SELECT dd.domain, COUNT(*) AS k
    FROM d dd JOIN rates r USING (domain)
    WHERE ((1103515245::BIGINT * ((doc_id % 2147483647 + 2147483647) % 2147483647)
            + 12345) % 2147483647) % 1000000 < r.thresh
    GROUP BY dd.domain
)
SELECT r.domain, r.n AS n_total, CAST(COALESCE(k.k, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k USING (domain)
ORDER BY domain
"""


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group exemplar selection (operators/sampling.
    sample_k_per_group): 3 documents per (lang, source) cell by
    portable-hash rank — the few-shot/eval-set primitive, identical on
    any layout or engine (df.sample and rand() windows are neither)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sampling import sample_k_per_group

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "cell", F.concat_ws("/", "lang", "source")
    )
    return sample_k_per_group(docs, "cell", "doc_id", 3).select(
        "cell", "doc_id"
    ).orderBy("cell", "doc_id")


ORACLE_SAMPLE_PER_GROUP = """
WITH d AS (
    SELECT concat_ws('/', lang, source) AS cell, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY concat_ws('/', lang, source)
               ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                         % 2147483647),
                        doc_id) AS rn
    FROM documents
)
SELECT cell, doc_id FROM d WHERE rn <= 3 ORDER BY cell, doc_id
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling — rebalance a multilingual
    corpus (keep all de, half of en, a quarter of fr, ...)."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 50, "de": 100, "fr": 25, "es": 75, "zh": 10}
    ).select("doc_id", "lang")


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle (training-order
    randomization): order by an affine bijection of doc_id, realized as
    a range exchange + local sorts — no single reducer at any scale.
    Output: the first 20 documents of the salt=7 permutation with their
    positions, which pins both the permutation arithmetic and the
    global order the range exchange produces."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sampling import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shuffled = deterministic_shuffle(docs, "doc_id", salt=7)
    head = shuffled.orderBy("_shuffle_key", "doc_id").limit(20)
    w = Window.orderBy("_shuffle_key", "doc_id")
    return head.select(
        "doc_id",
        F.col("_shuffle_key").alias("shuffle_key"),
        F.row_number().over(w).alias("pos"),
    )


ORACLE_CORPUS_SHUFFLE = """
WITH h AS (
    SELECT doc_id,
           (1103515245::BIGINT *
              (((doc_id + 7) % 2147483647 + 2147483647) % 2147483647)
            + 12345) % 2147483647 AS sk
    FROM documents
)
SELECT doc_id, sk AS shuffle_key,
       CAST(ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS INTEGER) AS pos
FROM h ORDER BY sk, doc_id LIMIT 20
"""


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling: longer documents survive at a higher
    rate (weight = clamp(n_chars/50, 10, 100) percent), decided per-row
    by the doc's own hash — deterministic and map-only. Output: per-lang
    kept counts + the exact surviving doc_id sum (any drift in the
    keep decision moves it)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    pct = F.least(F.lit(100), F.greatest(F.lit(10), F.expr("n_chars DIV 50")))
    kept = weighted_sample(docs, "doc_id", pct)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("lang")
    )


ORACLE_SAMPLE_WEIGHTED = """
WITH h AS (
    SELECT doc_id, lang,
           ((1103515245::BIGINT * ((doc_id % 2147483647 + 2147483647) % 2147483647)
             + 12345) % 2147483647) % 100 AS b,
           LEAST(100, GREATEST(10, n_chars // 50)) AS pct
    FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM h WHERE b < pct
GROUP BY lang ORDER BY lang
"""


ORACLE_SAMPLE_STRATIFIED = """
WITH h AS (
    SELECT doc_id, lang,
           ((1103515245::BIGINT * ((doc_id % 2147483647 + 2147483647) % 2147483647)
             + 12345) % 2147483647) % 100 AS b
    FROM documents
)
SELECT doc_id, lang FROM h
WHERE (lang = 'en' AND b < 50) OR (lang = 'de' AND b < 100)
   OR (lang = 'fr' AND b < 25) OR (lang = 'es' AND b < 75)
   OR (lang = 'zh' AND b < 10)
"""


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbors
# ---------------------------------------------------------------------------

def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return topk_ivf(emb, queries, k=5, centroid_stride=64)


def q_sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over a TRAINED coarse quantizer: two deterministic
    Lloyd's iterations (`operators/clustering.py::kmeans_fit`) then the
    same two-equi-join probe. The oracle replays the identical iterations
    as SQL CTEs — exact int64 partial sums and floor-division centroid
    updates make even the iterative training bit-reproducible."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=4, iters=2)
    queries = emb.where(F.col("vec_id") < 4)
    return topk_ivf(emb, queries, k=3, centroids=cents)


# Lloyd's k-means as SQL (shared CTE builders: queries/kmeans_sql.py —
# assign = cosine argmax with ties -> lowest cell, update = elementwise
# exact floor-division mean, empty cells keep their previous centroid).
_KM_TRAIN_K4, _KM_FINAL_K4 = km_train_ctes(k=4, iters=2)

ORACLE_SIM_TOPK_IVF_TRAINED = f"""
WITH qn0 AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
    FROM embeddings
),
qn AS (SELECT id, q, list_dot_product(q, q) AS n FROM qn0),
{_KM_TRAIN_K4},
fin AS (SELECT id, cell FROM {_KM_FINAL_K4} WHERE rc = 1),
scored AS (
    SELECT qq.id AS query_id, cc.id AS nbr,
           list_dot_product(q1.q, q2.q) / (SQRT(q1.n) * SQRT(q2.n)) AS cos
    FROM fin qq
    JOIN fin cc ON qq.cell = cc.cell AND cc.id <> qq.id
    JOIN qn q1 ON q1.id = qq.id
    JOIN qn q2 ON q2.id = cc.id
    WHERE qq.id < 4
),
ranked AS (
    SELECT query_id, nbr, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, nbr ASC) AS INT) AS rank
    FROM scored
)
SELECT query_id, nbr, rank, cos FROM ranked WHERE rank <= 3
"""


def q_sim_topk_ivf_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k over the HIERARCHICAL adaptive-k quantizer
    (`operators/similarity.py::topk_ivf_hier`) — the search twin of the
    window's `dedup_embedding_cosine_hier`, completing the
    past-broadcastable-k scale path for similarity SEARCH. The oracle
    replays both training levels (adaptive k in SQL), assigns each
    corpus vector its home fine cell, probes each query's 2 nearest fine
    cells, and reranks exactly."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import topk_ivf_hier

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    return topk_ivf_hier(emb, queries, k=3, iters=1, nprobe=2)


_KM2H_COARSE, _KM2H_COARSE_FINAL = km_train_ctes(k=K_HIER_SQL, iters=1)
_KM2H_FINE, _KM2H_FINE_FINAL = km2_train_ctes(k_fine=K_HIER_SQL, iters=1)

ORACLE_SIM_TOPK_IVF_HIER = f"""
WITH qn0 AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
    FROM embeddings
),
qn AS (SELECT id, q, list_dot_product(q, q) AS n FROM qn0),
{_KM2H_COARSE},
qn2 AS (
    SELECT a.id, qn.q, qn.n, a.cell AS shard
    FROM {_KM2H_COARSE_FINAL} a JOIN qn USING (id) WHERE a.rc = 1
),
{_KM2H_FINE},
fin AS (
    SELECT id, shard * ({K_HIER_SQL}) + fine AS cell, rc
    FROM {_KM2H_FINE_FINAL} WHERE rc <= 2
),
home AS (SELECT id, cell FROM fin WHERE rc = 1),
probe AS (SELECT id, cell FROM fin WHERE id < 4),
scored AS (
    SELECT p.id AS query_id, c.id AS nbr,
           list_dot_product(q1.q, q2.q) / (SQRT(q1.n) * SQRT(q2.n)) AS cos
    FROM probe p
    JOIN home c ON p.cell = c.cell AND c.id <> p.id
    JOIN qn q1 ON q1.id = p.id
    JOIN qn q2 ON q2.id = c.id
),
ranked AS (
    SELECT query_id, nbr, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, nbr ASC) AS INT) AS rank
    FROM scored
)
SELECT query_id, nbr, rank, cos FROM ranked WHERE rank <= 3
"""


# shares the quantized-vector CTE shape with queries/extensions.py
ORACLE_SIM_TOPK_IVF = f"""
WITH qv AS (
    SELECT vec_id AS id,
           list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000000.0)) AS q
    FROM embeddings
),
qn AS (
    SELECT id, q, list_dot_product(q, q) AS n FROM qv
),
cents AS (
    -- portable-hash sampled ~1/64 of ids (mirrors _sampled_centroids)
    SELECT id AS cid, q AS qc, n AS nc FROM qn WHERE {CENT_SAMPLE_SQL} % 64 = 0
),
scored_c AS (
    SELECT qn.id, cents.cid,
           list_dot_product(qn.q, cents.qc) / (SQRT(qn.n) * SQRT(cents.nc)) AS cos_c
    FROM qn CROSS JOIN cents
),
assigned AS (
    SELECT id, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos_c DESC, cid ASC) AS rc
        FROM scored_c
    ) WHERE rc = 1
),
vec AS (SELECT qn.id, qn.q, qn.n, a.cell FROM qn JOIN assigned a USING (id)),
rescored AS (
    SELECT q.id AS query_id, c.id AS nbr,
           list_dot_product(q.q, c.q) / (SQRT(q.n) * SQRT(c.n)) AS cos
    FROM vec q JOIN vec c ON q.cell = c.cell AND c.id <> q.id
    WHERE q.id < 8
),
ranked AS (
    SELECT query_id, nbr, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, nbr ASC) AS INT) AS rank
    FROM rescored
)
SELECT query_id, nbr, rank, cos FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# arrays / explode / UDF path / approx aggregates
# ---------------------------------------------------------------------------

def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + HOFs: per-order sorted quantity list (joined
    to a string for engine-portable comparison), size, max."""
    li = load_table(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_quantity")).alias("_qs")
    )
    return grouped.select(
        "l_orderkey",
        F.size("_qs").alias("n_items"),
        F.array_join(F.transform("_qs", lambda x: x.cast("string")), ",").alias("qty_sorted"),
        F.element_at("_qs", -1).alias("max_qty"),
    )


ORACLE_ARRAY_FUNCS = """
SELECT l_orderkey,
       CAST(len(qs) AS INT) AS n_items,
       array_to_string(list_transform(qs, x -> CAST(x AS VARCHAR)), ',') AS qty_sorted,
       qs[-1] AS max_qty
FROM (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs FROM lineitem GROUP BY 1)
"""


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (lateral view): one row per (doc, position, token)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("_t"))
    return toks.select("doc_id", F.posexplode("_t").alias("pos", "tok"))


ORACLE_EXPLODE_TOKENS = """
SELECT doc_id,
       CAST(generate_subscripts(tk, 1) - 1 AS INT) AS pos,
       unnest(tk) AS tok
FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'), t -> t <> '') AS tk
    FROM documents
)
"""


def q_udf_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanctioned Python escape hatch: an Arrow-vectorized
    ``pandas_udf`` (batch columnar transfer, ~10-100× row-at-a-time UDFs).
    The formula is fixed-order multiply/add, so even across engines the
    doubles are bit-identical. Exists to pin the UDF plumbing —
    native-expressible logic should stay native (SCALING.md)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(qty: pd.Series, price: pd.Series, disc: pd.Series) -> pd.Series:
        return qty * 0.5 + price * 0.001 - disc

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        score("l_quantity", "l_extendedprice", "l_discount").alias("score"),
    )


ORACLE_UDF_VECTORIZED = """
SELECT l_orderkey, l_linenumber,
       l_quantity * 0.5 + l_extendedprice * 0.001 - l_discount AS score
FROM lineitem
"""


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, GK quantiles — the
    reference's A3 approxQuantile flavor). Engine-specific sketch results
    → rows-only driver check; tests/test_advanced.py bounds the error vs
    exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
    )


def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation functions (§2.5 breadth): first/last/nth value
    per user over event time — last_value needs the explicit
    UNBOUNDED-to-UNBOUNDED frame (the default frame stops at CURRENT ROW,
    a classic silent-wrong-answer trap both engines share the fix for).
    Deterministic ordering via the (ts, event_id) tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.where(F.col("user_id") < 500)
        .select(
            "event_id",
            "user_id",
            F.first("value").over(w).alias("first_value_seen"),
            F.last("value").over(w).alias("last_value_seen"),
            F.nth_value("value", 2).over(w).alias("second_value_seen"),
        )
    )


ORACLE_WINDOW_NAVIGATION = """
SELECT event_id, user_id,
       FIRST_VALUE(value) OVER w AS first_value_seen,
       LAST_VALUE(value) OVER w AS last_value_seen,
       NTH_VALUE(value, 2) OVER w AS second_value_seen
FROM events
WHERE user_id < 500
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics — the Zipf-curve pass every
    pretraining pipeline runs before tokenizer training: global token
    frequencies, deterministic rank (count DESC, token ASC), and the
    cumulative corpus coverage of the top-100 head. One explode + one
    count shuffle + one tiny window over 100 rows; the coverage fraction
    divides two exact BIGINTs, so the doubles agree cross-engine."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    # distributed top-k FIRST (TakeOrdered — no global sort, no
    # single-partition window over the full vocabulary), THEN the rank
    # window over only the 100 surviving rows
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(100)
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = top.withColumn("rank", F.row_number().over(w_rank)).crossJoin(
        F.broadcast(total)
    )
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return ranked.select(
        "rank",
        "tok",
        "cnt",
        (F.sum("cnt").over(w_cum) / F.col("_total")).alias("cum_frac"),
    ).orderBy("rank")


def _oracle_corpus_vocab() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.extensions import _SQL_TOKS

    return f"""
WITH toks AS (SELECT unnest({_SQL_TOKS}) AS tok FROM documents),
counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS _total FROM counts),
ranked AS (
    SELECT tok, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS INT) AS rank
    FROM counts QUALIFY rank <= 100
)
SELECT rank, tok, cnt,
       CAST(SUM(cnt) OVER (ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       / CAST(_total AS DOUBLE) AS cum_frac
FROM ranked CROSS JOIN total
ORDER BY rank
"""


ORACLE_CORPUS_VOCAB = _oracle_corpus_vocab()


_BM25_TERMS = ("spark", "join", "vector")


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/scoring.py): top-20 documents
    for a 3-term query. Map-only term frequencies (array HOFs over each
    row's own tokens — the corpus never shuffles), one 1-row global
    stats broadcast, distributed TakeOrdered. The odds-form idf keeps
    every score a cross-engine-identical double (module doc)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.scoring import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_TERMS)


def _oracle_text_bm25() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.scoring import bm25_sql
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.extensions import _SQL_TOKS

    return bm25_sql(_BM25_TERMS, _SQL_TOKS)


ORACLE_TEXT_BM25 = _oracle_text_bm25()


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring (operators/scoring.py): train the
    corpus's own add-one bigram model in one shuffle, score every doc by
    its average per-bigram probability in exact integer ppm — the
    CCNet/Gopher perplexity-filter shape without the float log (module
    doc explains why integer probability ranks the same tail)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.scoring import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs).orderBy("doc_id")


def _oracle_text_bigram_lm() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.extensions import _SQL_TOKS

    return f"""
WITH toks AS (
    SELECT doc_id AS id, {_SQL_TOKS} AS tk FROM documents
),
occ AS (
    SELECT id, tk[i + 1] AS w1, tk[i + 2] AS w2
    FROM (SELECT id, tk, unnest(range(len(tk) - 1)) AS i
          FROM toks WHERE len(tk) >= 2)
),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM occ GROUP BY 1, 2),
cc AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw FROM bc GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM cc),
scored AS (
    SELECT occ.id, ((bc.cb + 1) * 1000000) // (cc.cw + v.vocab) AS s
    FROM occ
    JOIN bc ON occ.w1 = bc.w1 AND occ.w2 = bc.w2
    JOIN cc ON occ.w1 = cc.w1
    CROSS JOIN v
)
SELECT id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(s) AS BIGINT) // COUNT(*) AS BIGINT) AS avg_ppm
FROM scored GROUP BY id ORDER BY doc_id
"""


ORACLE_TEXT_BIGRAM_LM = _oracle_text_bigram_lm()


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): documents hash-bucketed
    into 8 independent packing streams, sequential-fill bins of 512
    tokens via a per-bucket window (bin = BIGINT DIV — exact at any
    corpus size), per-bin occupancy summary. Bucketing is what keeps
    the window parallel at 100 TB."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=512, buckets=8)


def _oracle_pack_sequences() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.packing import pack_sequences_sql
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.extensions import _SQL_TOKS

    return pack_sequences_sql(_SQL_TOKS, seq_len=512, buckets=8)


ORACLE_PACK_SEQUENCES = _oracle_pack_sequences()


_MIX_UP = ("src0", "src1", "src2", "src3", "src4")


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (operators/corpus.mix_corpus): sources src0-4
    upweighted 3×, global budget 40% of corpus tokens, per-document
    acceptance by integer-ppm hash threshold — bit-reproducible
    membership at any partitioning. One tiny per-source agg broadcasts;
    the corpus itself shuffles once (the summary)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.corpus import mix_corpus

    docs = load_table(spark, sf_dir, "documents")
    return mix_corpus(docs, list(_MIX_UP))


def _oracle_corpus_mix() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import _P, PORTABLE_HASH_SQL
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.extensions import _SQL_TOKS

    h = PORTABLE_HASH_SQL.format(x="CAST(id AS VARCHAR)", m=_P)
    ups = ", ".join(f"'{s}'" for s in _MIX_UP)
    return f"""
WITH tok AS (
    SELECT source AS src, doc_id AS id, len({_SQL_TOKS}) AS n_tokens
    FROM documents
),
src AS (
    SELECT src, CAST(SUM(n_tokens) AS BIGINT) AS s_tokens,
           CASE WHEN src IN ({ups}) THEN 3.0 ELSE 1.0 END AS w
    FROM tok GROUP BY src
),
totals AS (
    SELECT CAST(SUM(s_tokens) AS BIGINT) AS total_tokens,
           SUM(w) AS sum_w
    FROM src
),
rates AS (
    SELECT src,
           LEAST(CAST(1000000 AS BIGINT),
                 CAST(FLOOR((0.4 * CAST(total_tokens AS DOUBLE) * w / sum_w)
                            / s_tokens * 1000000.0) AS BIGINT)) AS rate_ppm
    FROM src CROSS JOIN totals
)
SELECT src AS source, rate_ppm,
       CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
FROM tok JOIN rates USING (src)
WHERE {h} % 1000000 < rate_ppm
GROUP BY src, rate_ppm
ORDER BY source
"""


ORACLE_CORPUS_MIX = _oracle_corpus_mix()


def q_agg_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE approximate distinct counting — a K-Minimum-Values (KMV)
    sketch over the engine-independent md5 hash, so unlike HLL
    (`agg_approx`, engine-specific sketch → rows-only check) the
    *approximate* answer itself is bit-reproducible and fully
    oracle-checked: both engines hash identically, keep the k smallest
    distinct hash values (a distributed top-k — no full sort), and apply
    the same estimator (k−1)·(P/h₍ₖ₎) in the same IEEE order. Estimates
    the distinct customers with orders; also reports the exact count and
    the deterministic error ratio. The mergeable-sketch property that
    matters at 100 TB: per-partition k-smallest sets merge by union +
    re-truncate — exactly what the distributed orderBy().limit(k) plan
    executes (partial TakeOrdered per partition, merge on one tiny
    reducer)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import portable_hash

    k = 256
    orders = load_table(spark, sf_dir, "orders")
    hs = orders.select(
        portable_hash(F.col("o_custkey").cast("string")).alias("h")
    ).distinct()
    topk = hs.orderBy("h").limit(k)
    sketch = topk.agg(
        F.count(F.lit(1)).alias("m"), F.max("h").alias("hk")
    ).select(
        F.when(F.col("m") < k, F.col("m").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * (F.lit(2147483647.0) / F.col("hk").cast("double"))
        )
        .alias("kmv_estimate")
    )
    exact = orders.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return sketch.crossJoin(exact).select(
        "kmv_estimate",
        "exact_distinct",
        (F.col("kmv_estimate") / F.col("exact_distinct")).alias("est_ratio"),
    )


ORACLE_AGG_DISTINCT_KMV = """
WITH hs AS (
    SELECT DISTINCT (('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                     % 2147483647) AS h
    FROM orders
),
tk AS (SELECT h FROM hs ORDER BY h LIMIT 256),
sk AS (
    SELECT CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 255.0 * (2147483647.0 / CAST(MAX(h) AS DOUBLE))
           END AS kmv_estimate
    FROM tk
),
ex AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct FROM orders)
SELECT kmv_estimate, exact_distinct, kmv_estimate / exact_distinct AS est_ratio
FROM sk CROSS JOIN ex
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical wide-aggregate scan.
    Exact fixed-point sums; averages derived from exact sums/counts in a
    fixed expression order so both engines emit identical doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    n = F.count(F.lit(1))
    sum_qty = decimal_sum(F.col("l_quantity"), 2)
    sum_base = decimal_sum(F.col("l_extendedprice"), 2)
    sum_disc = decimal_sum(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
    )
    sum_charge = decimal_sum(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax")),
        6,
    )
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.alias("sum_qty"),
            sum_base.alias("sum_base_price"),
            sum_disc.alias("sum_disc_price"),
            sum_charge.alias("sum_charge"),
            (sum_qty / n).alias("avg_qty"),
            (sum_base / n).alias("avg_price"),
            decimal_sum(F.col("l_discount"), 2).alias("sum_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {decimal_sum_sql('l_quantity', 2)} AS sum_qty,
       {decimal_sum_sql('l_extendedprice', 2)} AS sum_base_price,
       {decimal_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS sum_disc_price,
       {decimal_sum_sql('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)', 6)} AS sum_charge,
       {decimal_sum_sql('l_quantity', 2)} / COUNT(*) AS avg_qty,
       {decimal_sum_sql('l_extendedprice', 2)} / COUNT(*) AS avg_price,
       {decimal_sum_sql('l_discount', 2)} AS sum_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): aggregate → HAVING-style filter
    on the aggregate → semi-join back into a 3-table join → global top-k.
    The agg filter runs *before* the joins (classic cardinality killer)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(decimal_sum(F.col("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > F.lit(180.0))
    )
    # no forced broadcast on customer: at TPC-H scale it is 1.5M rows × SF
    # and a hint would bypass AQE's size check (OOM at the 100× target);
    # AQE/size stats still pick BHJ when it actually fits
    joined = (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .join(cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
    )
    return (
        joined.select("c_name", "o_custkey", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


ORACLE_TPCH_Q18 = f"""
WITH big AS (
    SELECT l_orderkey AS o_orderkey,
           {decimal_sum_sql('l_quantity', 2)} AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING {decimal_sum_sql('l_quantity', 2)} > 180.0
)
SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_totalprice, b.total_qty
FROM orders o JOIN big b USING (o_orderkey)
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
"""


def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL entry point (Catalyst rewrites it
    to the same left-semi plan as joins.semi_join — verified surface, not
    just the DataFrame API)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders_sq o
        WHERE EXISTS (
            SELECT 1 FROM lineitem_sq l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49
        )
        """
    )


ORACLE_SUBQUERY_EXISTS = """
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49
)
"""


def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price. The
    average derives from an exact fixed-point sum over an exact count so
    the threshold double is bit-identical cross-engine."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sc")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders_sc
        WHERE o_totalprice > (
            SELECT (CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) / 100.0)
                   / COUNT(*)
            FROM orders_sc
        )
        """
    )


ORACLE_SUBQUERY_SCALAR = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (
    SELECT (CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) / 100.0)
           / COUNT(*)
    FROM orders
)
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting-revenue-change: the canonical pushdown probe.
    Three conjunctive filters over a 2-column projection — all four
    predicates and both columns must reach the parquet scan
    (test_advanced.py asserts PushedFilters), so at 100 TB this reads a
    small fraction of the table and aggregates map-side to one row."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= F.lit(0.05))
            & (F.col("l_discount") <= F.lit(0.07))
            & (F.col("l_quantity") < F.lit(24))
        )
        .agg(
            decimal_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue"
            )
        )
    )


ORACLE_TPCH_Q6 = f"""
SELECT {decimal_sum_sql('l_extendedprice * l_discount', 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo-revenue ratio: conditional aggregate over a
    fact⋈dim join. The part side broadcasts; both sums are exact
    fixed-point so the final ratio is one deterministic double division."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = decimal_sum(
        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0)), 4
    )
    total = decimal_sum(disc_price, 4)
    return joined.agg((F.lit(100.0) * promo / total).alias("promo_revenue"))


ORACLE_TPCH_Q14 = f"""
SELECT 100.0 * {decimal_sum_sql(
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END",
    4,
)} / ({decimal_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)}) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item report: 4-way join, group-by on a wide
    composite key, exact revenue, deterministic global top-20 (c_custkey
    tiebreak). Nation (25 rows at every SF) keeps an explicit broadcast
    hint; customer does NOT — it grows with SF, so the join strategy is
    left to AQE/size stats (BHJ when it fits, shuffle join when not)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_TPCH_Q10 = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {decimal_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer-order-count distribution: LEFT OUTER join so
    zero-order customers survive with count 0, then a second aggregation
    over the first's output — the double-agg re-shuffles on a key derived
    from the first shuffle's result, a shape AQE coalesces well."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


ORACLE_TPCH_Q13 = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking, adapted to this schema (the
    testdata lacks l_commitdate/l_receiptdate, so the 'late line'
    predicate becomes l_shipdate > o_orderdate): counts Q1-1996 orders
    per priority having at least one late-shipped lineitem. Spelled as a
    correlated EXISTS through the SQL entry point — Catalyst rewrites it
    to a left-semi join; the lineitem side carries only the two probe
    columns into the shuffle."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q4")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q4")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders_q4 o
        WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem_q4 l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


ORACLE_TPCH_Q4 = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: revenue between two nations by year and
    direction. Two independent joins against the 25-row nation dim (both
    broadcast, aliased to disambiguate), the fact chain shuffles only on
    its join keys; the symmetric nation-pair filter is a pushed-down OR.
    Year extraction is exact integer; revenue is an exact fixed-point
    sum."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    joined = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_TPCH_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       {decimal_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-mode priority classes, adapted to this schema
    (no l_shipmode; the class key becomes ship SPEED — days from order to
    ship date, ≤30 fast): per speed class, how many high- vs low-priority
    orders shipped in 1996. The canonical conditional-CASE aggregation
    over a fact⋈fact join; integer day arithmetic is exact on both
    engines (all dates are midnight timestamps)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    speed = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) <= 30, "FAST"
    ).otherwise("SLOW")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.withColumn("ship_speed", speed)
        .groupBy("ship_speed")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("ship_speed")
    )


ORACLE_TPCH_Q12 = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
            THEN 'FAST' ELSE 'SLOW' END AS ship_speed,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY 1
ORDER BY 1
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue: the canonical OR-of-ANDs predicate
    (three disjunctive brand/size/quantity branches, adapted to the
    available part columns — no p_container) over a part⋈lineitem join.
    The disjunction references both sides, so it evaluates post-join
    while each branch's single-side conjuncts still prune; part
    broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return joined.where(b1 | b2 | b3).agg(
        decimal_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_TPCH_Q19 = f"""
SELECT {decimal_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: NATION_1's share of STANDARD-part
    volume sold into AMERICA, by order year — the deepest join in the
    adapted suite (lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation ⋈ region
    ⋈ supplier ⋈ nation again). Every dim broadcasts (nation twice under
    different aliases); the share is a ratio of two exact fixed-point
    sums, so the emitted doubles are bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    n_cust = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
        )
    )
    n_supp = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    joined = (
        li.join(
            F.broadcast(part.where(F.col("p_type") == "STANDARD")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n_cust, F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "AMERICA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n_supp, F.col("s_nationkey") == F.col("sn_key"))
    )
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (
                decimal_sum(
                    F.when(F.col("supp_nation") == "NATION_1", volume).otherwise(
                        F.lit(0.0)
                    ),
                    4,
                )
                / decimal_sum(volume, 4)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE_TPCH_Q8 = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       {decimal_sum_sql(
           "CASE WHEN ns.n_name = 'NATION_1' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END",
           4,
       )} / ({decimal_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)}) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE p_type = 'STANDARD' AND r_name = 'AMERICA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
GROUP BY 1
ORDER BY 1
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: quarterly revenue per supplier, then the
    supplier(s) whose revenue equals the global max. The max arrives as
    a 1-row broadcast (the DataFrame spelling of Q15's scalar subquery);
    equality on doubles is safe because both sides derive from the SAME
    exact fixed-point sum."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("_max"))
    return (
        supp.join(rev, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(top), F.col("total_revenue") == F.col("_max"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_TPCH_Q15 = f"""
WITH rev AS (
    SELECT l_suppkey,
           {decimal_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: lines of one brand whose
    quantity is below 20% of that part's average — the canonical
    correlated-scalar-subquery-per-group shape, spelled as a join against
    a per-part aggregate (what Catalyst's decorrelation produces anyway).
    The per-part average is exact-sum/count, so the 0.2× threshold is
    the same IEEE double on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    avgq = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (decimal_sum(F.col("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(
            F.broadcast(part.where(F.col("p_brand") == "Brand#23")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(avgq, F.col("l_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (decimal_sum(F.col("l_extendedprice"), 2) / F.lit(7.0)).alias("avg_yearly")
        )
    )


ORACLE_TPCH_Q17 = f"""
WITH avgq AS (
    SELECT l_partkey AS ap_key,
           {decimal_sum_sql('l_quantity', 2)} / COUNT(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT {decimal_sum_sql('l_extendedprice', 2)} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avgq ON l_partkey = ap_key
WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
"""


def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (operators/mutations.scd2_apply):
    two change rounds against a customer dimension — every 10th customer
    repriced at v2 plus a batch of brand-new keys, every 20th repriced
    again at v3 — so the result exercises close-and-insert, no-op equal
    rows, new-key insert, and closed-history passthrough. Output: row
    count + exact balance sum per (valid_from, valid_to) validity slice,
    a pure function of the testdata iff the history algebra is exact."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.aggregates import decimal_sum
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.mutations import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    dim = cust.withColumn("valid_from", F.lit(1).cast("long")).withColumn(
        "valid_to", F.lit(None).cast("long")
    )
    changes_v2 = (
        cust.where(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
        .unionByName(
            cust.where(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 1_000_000_000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    dim = scd2_apply(dim, changes_v2, ["c_custkey"], version=2)
    # round 2 references round 1's output THREE times (closed-history
    # filter, current filter, and the change join) and the final agg a
    # fourth — persist the small intermediate so round 1 runs once (r14)
    from pyspark import StorageLevel

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import track

    dim = track(dim.persist(StorageLevel.MEMORY_AND_DISK))
    changes_v3 = cust.where(F.col("c_custkey") % 20 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 300.0
    )
    dim = scd2_apply(dim, changes_v3, ["c_custkey"], version=3)
    return (
        dim.groupBy("valid_from", "valid_to")
        .agg(
            F.count(F.lit(1)).alias("n"),
            decimal_sum(F.col("c_acctbal"), 2).alias("sum_bal"),
        )
        .orderBy("valid_from", F.col("valid_to").asc_nulls_last())
    )


# final validity slices, derived directly from the change-round rules:
# untouched (1,NULL); 10th-but-not-20th closed (1,2) + current (2,NULL)
# at +100; 20th closed (1,2) and (2,3) + current (3,NULL) at +300; new
# keys current (2,NULL) at 0.0
ORACLE_SCD2_DIM = f"""
WITH base AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
g AS (
    SELECT 1 AS vf, NULL AS vt, bal FROM base WHERE k % 10 <> 0
    UNION ALL SELECT 1, 2, bal FROM base WHERE k % 10 = 0
    UNION ALL SELECT 2, NULL, bal + 100.0 FROM base
        WHERE k % 10 = 0 AND k % 20 <> 0
    UNION ALL SELECT 2, 3, bal + 100.0 FROM base WHERE k % 20 = 0
    UNION ALL SELECT 3, NULL, bal + 300.0 FROM base WHERE k % 20 = 0
    UNION ALL SELECT 2, NULL, 0.0 FROM base WHERE k % 100 = 0
)
SELECT CAST(vf AS BIGINT) AS valid_from, CAST(vt AS BIGINT) AS valid_to,
       CAST(COUNT(*) AS BIGINT) AS n,
       {decimal_sum_sql('bal', 2)} AS sum_bal
FROM g GROUP BY vf, vt
ORDER BY valid_from, valid_to NULLS LAST
"""


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO-style upsert (operators/mutations.py): a deterministic
    change set — every 97th order repriced (UPDATE), every 101st re-keyed
    negative (INSERT) — merged into orders. One broadcastable anti-join
    over the target; the big side never shuffles."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.mutations import upsert

    orders = load_table(spark, sf_dir, "orders")
    changed = orders.withColumn("o_orderstatus", F.lit("U")).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    updates = changed.where(F.col("o_orderkey") % 97 == 0)
    inserts = changed.where(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    return upsert(orders, updates.unionByName(inserts), ["o_orderkey"])


ORACLE_UPSERT = """
WITH src AS (
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT -o_orderkey, o_custkey, 'U', o_totalprice + 1000.0,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 101 = 0
)
SELECT t.* FROM orders t
WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
UNION ALL
SELECT * FROM src
"""


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics in one window pass: ntile / percent_rank /
    cume_dist per order-status partition. The order key is made unique
    with the tiebreak column so tile assignment is partition-count
    independent (ntile over ties is otherwise nondeterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).alias("tile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


ORACLE_WINDOW_ANALYTICS = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CAST(NTILE(4) OVER w AS INTEGER) AS tile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two join keys — the layout
    primitive behind two-dimensionally prunable compaction
    (LakeRepo.compact(zorder_by=...))."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.layout import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("z"),
    )


def _zorder_oracle() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.layout import zorder_key_sql

    return f"""
SELECT l_orderkey, l_linenumber, {zorder_key_sql('l_partkey', 'l_suppkey')} AS z
FROM lineitem
"""


# ---------------------------------------------------------------------------
# TPC-H tail: Q9 / Q21 / Q22 adapted to the slimmed testdata schema
# (no partsupp, no l_commitdate/l_receiptdate, no c_phone — see docstrings)
# and Q2 / Q11 / Q16 / Q20 over a deterministically DERIVED partsupp
# ---------------------------------------------------------------------------

def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata has no partsupp, so the four queries that need one
    (Q2/Q11/Q16/Q20) run over a deterministic derivation: supplier s
    carries part p iff ``(p_partkey*7 + s_suppkey) % 25 == 0`` — ~4
    suppliers per part at 100 suppliers, TPC-H's real ratio. The
    congruence is spelled as an EQUI-join (``(p*7)%25`` against
    ``(25 - s%25)%25``), so the build is a BroadcastHashJoin of the
    tiny supplier side against part, never a filtered cross product —
    at 100 TB the derivation is a map over the part scan. availqty and
    supplycost are modular-arithmetic functions of the two keys;
    supplycost is an exact 2-decimal double (int/100+1), so every
    downstream sum/min/equality is bit-identical across engines.
    SQL twin: ``PARTSUPP_SQL`` (kept adjacent so the two never drift)."""
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    p = part.withColumn("_jk", (F.col("p_partkey") * 7) % 25)
    s = supp.withColumn("_jk", (F.lit(25) - F.col("s_suppkey") % 25) % 25)
    return p.join(F.broadcast(s), "_jk").select(
        F.col("p_partkey").alias("ps_partkey"),
        F.col("s_suppkey").alias("ps_suppkey"),
        ((F.col("p_partkey") * 31 + F.col("s_suppkey") * 17) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        (
            ((F.col("p_partkey") * 13 + F.col("s_suppkey") * 7) % 1000).cast(
                "double"
            )
            / F.lit(100.0)
            + F.lit(1.0)
        ).alias("ps_supplycost"),
    )


PARTSUPP_SQL = """
partsupp AS (
    SELECT p_partkey AS ps_partkey,
           s_suppkey AS ps_suppkey,
           CAST((p_partkey * 31 + s_suppkey * 17) % 9999 + 1 AS INT) AS ps_availqty,
           CAST((p_partkey * 13 + s_suppkey * 7) % 1000 AS DOUBLE) / 100.0 + 1.0
               AS ps_supplycost
    FROM part JOIN supplier
      ON (p_partkey * 7) % 25 = (25 - s_suppkey % 25) % 25
)
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier over the derived partsupp: for
    STANDARD parts of size ≤ 15, the EUROPE supplier(s) matching each
    part's regional minimum supply cost. The correlated-MIN subquery is
    spelled as a per-part min aggregate joined back (Catalyst's own
    decorrelation); cost equality on doubles is safe because both sides
    are the SAME derived 2-decimal value. supplier/nation/region all
    broadcast — the only shuffles are the per-part min agg and its
    join back to the cost rows."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rs = supp.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).join(
        F.broadcast(region.where(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    cost = ps.join(F.broadcast(rs), F.col("ps_suppkey") == F.col("s_suppkey"))
    minc = cost.groupBy(F.col("ps_partkey").alias("min_pkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        cost.join(minc, F.col("ps_partkey") == F.col("min_pkey"))
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .join(
            F.broadcast(
                part.where(
                    (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
                )
            ),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_TPCH_Q2 = f"""
WITH {PARTSUPP_SQL.strip()}
SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
FROM part, partsupp, supplier, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_type = 'STANDARD' AND p_size <= 15
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
      SELECT MIN(ps2.ps_supplycost)
      FROM partsupp ps2, supplier s2, nation n2, region r2
      WHERE ps2.ps_partkey = part.p_partkey
        AND s2.s_suppkey = ps2.ps_suppkey
        AND s2.s_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r2.r_regionkey
        AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock: per-part inventory value held by one
    nation's suppliers, kept when above 0.5% of that nation's total (the
    HAVING-against-scalar-subquery shape — the total arrives as a 1-row
    broadcast). Value = supplycost × availqty is exact at 2 decimals, so
    both the per-part sums and the global threshold are fixed-point
    reproducible; the 0.005 scaling is the same IEEE double product."""
    ps = derived_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    inner = ps.join(
        F.broadcast(
            supp.join(
                F.broadcast(nation.where(F.col("n_name") == "NATION_7")),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
        ),
        F.col("ps_suppkey") == F.col("s_suppkey"),
    )
    value = F.col("ps_supplycost") * F.col("ps_availqty")
    grouped = inner.groupBy("ps_partkey").agg(
        decimal_sum(value, 2).alias("value")
    )
    total = inner.agg(
        (decimal_sum(value, 2) * F.lit(0.005)).alias("threshold")
    )
    return (
        grouped.join(F.broadcast(total))
        .where(F.col("value") > F.col("threshold"))
        .select("ps_partkey", "value")
        .orderBy(F.desc("value"), "ps_partkey")
    )


ORACLE_TPCH_Q11 = f"""
WITH {PARTSUPP_SQL.strip()},
inner_ps AS (
    SELECT ps_partkey, ps_supplycost * ps_availqty AS v
    FROM partsupp
    JOIN supplier ON ps_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
)
SELECT ps_partkey, {decimal_sum_sql('v', 2)} AS value
FROM inner_ps
GROUP BY ps_partkey
HAVING {decimal_sum_sql('v', 2)} > (
    SELECT {decimal_sum_sql('v', 2)} * 0.005 FROM inner_ps)
ORDER BY value DESC, ps_partkey
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier-relationship count: distinct suppliers per
    (brand, type, size) bucket, excluding one brand, SMALL-type parts,
    and suppliers in deficit (the NOT IN subquery — adapted from the
    complaint-comment filter to ``s_acctbal < 0``; suppkeys are
    non-null so NOT IN ≡ anti-join exactly). Part broadcasts into the
    partsupp scan; the excluded-supplier set is a broadcast anti-join;
    the only real shuffle is the 3-key distinct-count agg."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        ps.join(
            F.broadcast(
                part.where(
                    (F.col("p_brand") != "Brand#2")
                    & (~F.col("p_type").like("SMALL%"))
                    & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
                )
            ),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(supp.where(F.col("s_acctbal") < 0)),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


ORACLE_TPCH_Q16 = f"""
WITH {PARTSUPP_SQL.strip()}
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp, part
WHERE p_partkey = ps_partkey
  AND p_brand <> 'Brand#2'
  AND p_type NOT LIKE 'SMALL%'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND ps_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion: suppliers of red parts whose
    stock exceeds half of what they shipped of that part in 1997. The
    doubly-nested IN subqueries decorrelate to: per-(part, supplier)
    1997 shipment sums (one lineitem agg), joined to the derived
    partsupp, filtered, distinct supplier keys, semi-joined to
    supplier. A correlated SUM over zero lineitem rows is NULL in the
    literal spelling (row excluded) and an inner-join miss here — same
    result. The half-quantity threshold is exact-sum × 0.5, the same
    double on both engines."""
    ps = derived_partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    qty = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg((decimal_sum(F.col("l_quantity"), 2) * F.lit(0.5)).alias("half_qty"))
    )
    cand = (
        ps.join(
            F.broadcast(
                part.where(F.col("p_name").like("red%")).select("p_partkey")
            ),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(
            qty,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supp.join(
            F.broadcast(nation.where(F.col("n_name") == "NATION_6")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(cand, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


ORACLE_TPCH_Q20 = f"""
WITH {PARTSUPP_SQL.strip()}
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    WHERE ps_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND ps_availqty > 0.5 * (
          SELECT {decimal_sum_sql('l_quantity', 2)}
          FROM lineitem
          WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
            AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'))
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_6'
ORDER BY s_name
"""

def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit, adapted: the testdata has no
    partsupp, so supply cost is proxied by ``0.1 * p_retailprice *
    l_quantity`` (keeps the part join load-bearing). Shape preserved:
    5-table join → per-nation-per-year profit agg. part/supplier/nation
    broadcast; the only shuffles are the lineitem⋈orders join and the
    final 2-key agg. Single-expression double arithmetic is bit-identical
    across engines; the multi-row sum is exact fixed-point."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - F.lit(
        0.1
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(
            F.broadcast(part.where(F.col("p_name").like("%widget%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(decimal_sum(amount, 4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE_TPCH_Q9 = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       {decimal_sum_sql(
           'l_extendedprice * (1.0 - l_discount)'
           ' - 0.1 * p_retailprice * l_quantity', 4)} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers-who-kept-orders-waiting, adapted: no
    l_commitdate/l_receiptdate in the testdata, so "late" is
    ``l_shipdate > o_orderdate + 60 days``. The classic double
    EXISTS / NOT EXISTS self-join pair is rewritten as ONE per-order
    aggregation — EXISTS(other supplier) ⟺ countDistinct(supplier) > 1,
    NOT EXISTS(other late supplier) ⟺ countDistinct(late supplier) = 1 —
    which is what Catalyst cannot do automatically and turns two
    lineitem self-joins (each a full shuffle of the biggest table) into
    a single groupBy(orderkey); the DuckDB oracle runs the literal
    correlated-EXISTS spelling to pin semantic equivalence. numwait
    counts late LINES (Q21's COUNT(*) granularity)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    lines = li.join(
        orders.where(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).withColumn(
        "late",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).cast("int"),
    )
    per_order = (
        lines.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("nsupp"),
            F.countDistinct(
                F.when(F.col("late") == 1, F.col("l_suppkey"))
            ).alias("nlate"),
        )
        .where((F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .select(F.col("l_orderkey").alias("qual_okey"))
    )
    return (
        lines.where(F.col("late") == 1)
        .join(per_order, F.col("l_orderkey") == F.col("qual_okey"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation.where(F.col("n_name") == "NATION_3")),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


ORACLE_TPCH_Q21 = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_3'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity, adapted: no c_phone in the
    testdata, so the country code is ``c_nationkey % 10`` (same
    derived-column + IN-list shape). Rich idle customers: account
    balance above the average positive balance of the code set (scalar
    subquery → 1-row broadcast) and no RECENT orders (anti-join against
    orders since 2000 — the testdata's order history is dense enough
    that "no orders ever" selects nobody at small SFs, which would make
    the parity check vacuous). The avg is exact-sum/count so the
    threshold is the same IEEE double on both engines; the per-code
    balance total is exact fixed-point."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .withColumn("cntrycode", (F.col("c_nationkey") % 10).cast("int"))
        .where(F.col("cntrycode").isin(1, 3, 5, 7, 9))
    )
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (decimal_sum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.where(F.col("o_orderdate") >= F.lit("2000-01-01")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            decimal_sum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


ORACLE_TPCH_Q22 = f"""
WITH cust AS (
    SELECT *, CAST(c_nationkey % 10 AS INT) AS cntrycode
    FROM customer
    WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
)
SELECT cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       {decimal_sum_sql('c_acctbal', 2)} AS totacctbal
FROM cust c1
WHERE c_acctbal > (
        SELECT {decimal_sum_sql('c_acctbal', 2)} / COUNT(*)
        FROM cust WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c1.c_custkey
                    AND o_orderdate >= '2000-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


# ---------------------------------------------------------------------------
# embedding-table analytics + tokenizer training (operators/embeddings.py,
# operators/tokenizer.py) — whole-corpus single-pass statistics
# ---------------------------------------------------------------------------

def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram/covariance upper triangle of the quantized embedding
    corpus (PCA/whitening prep): one mapInPandas pass emits a d²-integer
    partial per partition, one tiny groupBy merges — the corpus never
    shuffles. All-integer associative arithmetic → bit-identical at any
    partitioning; the cov double is a fixed-order expression the oracle
    replays verbatim."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.embeddings import gram_covariance

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_covariance(emb)


ORACLE_EMBEDDING_COVARIANCE = """
WITH qv AS (
    SELECT vec_id AS id,
           list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
    FROM embeddings
),
el AS (SELECT id, CAST(d AS INT) AS d, q[d] AS v
       FROM qv, UNNEST(range(1, len(q) + 1)) AS t(d)),
g AS (SELECT a.d AS i, b.d AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS gram
      FROM el a JOIN el b ON a.id = b.id AND a.d <= b.d GROUP BY a.d, b.d),
s AS (SELECT d, CAST(SUM(v) AS BIGINT) AS sv FROM el GROUP BY d),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qv)
SELECT i, j, gram,
       (CAST(gram AS DOUBLE) - CAST(si.sv AS DOUBLE) * CAST(sj.sv AS DOUBLE)
            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov
FROM g JOIN s si ON si.d = g.i JOIN s sj ON sj.d = g.j CROSS JOIN nn
ORDER BY i, j
"""


def q_embedding_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid domain classification of every embedding →
    (label, pred, cnt) confusion counts. Centroids are exact floor-div
    means via per-partition integer partials (≤ k metadata rows reach
    the driver — the k-means exception); assignment is a k-row broadcast
    + exact integer cosine, window argmax tie-broken on pred. The
    oracle rebuilds the identical centroids in SQL (pmod floor-div,
    kmeans_sql.py pattern) and replays the assignment."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.embeddings import centroid_classify

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_classify(emb)


ORACLE_EMBEDDING_CLASSIFY = """
WITH qv AS (
    SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
           list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000000.0)) AS q
    FROM embeddings
),
qn AS (SELECT id, label, q, list_dot_product(q, q) AS n FROM qv),
el AS (SELECT label, CAST(d AS INT) AS d, CAST(q[d] AS BIGINT) AS v
       FROM qv, UNNEST(range(1, len(q) + 1)) AS t(d)),
ls AS (SELECT label, d, CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM el GROUP BY label, d),
cents AS (SELECT label AS cand,
                 list(CAST((s - (((s % cnt) + cnt) % cnt)) // cnt AS DOUBLE)
                      ORDER BY d) AS cvec
          FROM ls GROUP BY label),
scores AS (
    SELECT qn.id, qn.label, c.cand,
           ROW_NUMBER() OVER (PARTITION BY qn.id ORDER BY
               list_dot_product(qn.q, c.cvec)
                 / (SQRT(qn.n) * SQRT(list_dot_product(c.cvec, c.cvec))) DESC,
               c.cand ASC) AS r
    FROM qn CROSS JOIN cents c
)
SELECT label, cand AS pred, CAST(COUNT(*) AS BIGINT) AS cnt
FROM scores WHERE r = 1 GROUP BY label, cand ORDER BY label, pred
"""


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 projection 64 → 16 dims: map-only
    (one int64 matmul per Arrow batch, zero shuffle at any scale),
    deterministic basis shared with the oracle as data. The standard
    sketch before cheaper downstream distance work."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.embeddings import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    return jl_project(emb, out_dims=16)


def _oracle_embedding_project() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.embeddings import jl_basis

    basis = jl_basis(16, 64)
    vals = ", ".join(f"({j + 1}, {basis[j]})" for j in range(16))
    return f"""
WITH qv AS (
    SELECT vec_id AS id,
           list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000000.0)) AS q
    FROM embeddings
),
basis(dim, bv) AS (VALUES {vals})
SELECT id, CAST(dim AS INT) AS dim,
       CAST(list_dot_product(q, bv) AS BIGINT) AS val
FROM qv CROSS JOIN basis ORDER BY id, dim
"""


ORACLE_EMBEDDING_PROJECT = _oracle_embedding_project()


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-ppb PageRank (operators/graph.pagerank_ppb) over
    the part–supplier bipartite graph induced by lineitem (nodes
    namespaced 2·part / 2·supp+1, edges both directions), 2 iterations,
    top-20 by rank. Every quantity is int64 — bit-identical at any
    partitioning — and the oracle replays both Pregel passes as CTEs."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.graph import pagerank_ppb

    li = load_table(spark, sf_dir, "lineitem")
    # no .distinct() here: pagerank_ppb dedups its edge input anyway, and
    # the two union halves (even→odd / odd→even) can never collide, so a
    # pre-distinct would only add a second full shuffle of the edge list
    e0 = li.select(
        (F.col("l_partkey") * 2).cast("long").alias("src"),
        (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank_ppb(edges, iters=2)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
        .select(F.row_number().over(w).cast("int").alias("pos"), "node", "rank")
        .orderBy("pos")
    )


def _pagerank_pass(prev_r: str, out: str) -> str:
    # replays one integer-Pregel hop including the dangling-mass share:
    # sinks (nodes with no out-edge) pass their rank uniformly as
    # share = Σ sink-rank // N (0 on the symmetric graph here)
    return f"""s_{out} AS (
    SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN {prev_r} r ON r.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst),
sh_{out} AS (
    SELECT CAST(COALESCE((SELECT SUM(r.rank) FROM {prev_r} r
                          WHERE r.node NOT IN (SELECT src FROM deg)), 0)
                // (SELECT n_nodes FROM nn) AS BIGINT) AS share),
{out} AS (
    SELECT n.node,
           CAST(150000000
                + (85 * (COALESCE(s.s, 0) + (SELECT share FROM sh_{out})))
                  // 100 AS BIGINT) AS rank
    FROM nodes n LEFT JOIN s_{out} s USING (node))"""


ORACLE_GRAPH_PAGERANK = f"""
WITH e0 AS (SELECT DISTINCT CAST(2 * l_partkey AS BIGINT) AS src,
                   CAST(2 * l_suppkey + 1 AS BIGINT) AS dst FROM lineitem),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
{_pagerank_pass("r0", "r1")},
{_pagerank_pass("r1", "r2")}
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS INT) AS pos,
       node, rank
FROM r2 ORDER BY rank DESC, node ASC LIMIT 20
"""


def q_tokenizer_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration at corpus scale: collapse the corpus
    to its word-frequency vocabulary (the single corpus-wide shuffle),
    count adjacent char pairs weighted by word frequency over the tiny
    vocab, distributed top-32 merge candidates. The full driver-paced
    merge loop is operators/tokenizer.bpe_train (pytest-verified)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.tokenizer import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs)


def _oracle_tokenizer_bpe() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.tokenizer import bpe_pair_counts_sql
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.extensions import _SQL_TOKS

    return bpe_pair_counts_sql(_SQL_TOKS)


ORACLE_TOKENIZER_BPE = _oracle_tokenizer_bpe()


def q_tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-tokenizer ENCODE at corpus scale (r7) — the production
    tokenization pass every training pipeline runs between cleaning and
    packing, closing the tokenizer story (train existed since r5; this
    applies the trained merges).

    Shape: ONE corpus shuffle builds the per-doc word counts; the
    vocabulary (bounded metadata, Heaps' law) trains 8 merges
    driver-paced; the merge chain is then applied to the VOCAB as pure
    literal-replace Column expressions and the word→token-count mapping
    broadcasts back onto the per-doc counts — the corpus is never
    scanned twice and no UDF touches the hot path. Output: per-doc
    (n_words, n_bpe_tokens). The oracle replays the ENTIRE training loop
    and the encode as chained CTEs from the raw corpus."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.tokenizer import bpe_encode_doc_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_doc_counts(docs, n_merges=8).orderBy("doc_id")


def _oracle_tokenizer_bpe_encode() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.tokenizer import bpe_encode_sql
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.extensions import _SQL_TOKS

    return bpe_encode_sql(_SQL_TOKS, n_merges=8)


ORACLE_TOKENIZER_BPE_ENCODE = _oracle_tokenizer_bpe_encode()


_RESAMPLE_US = 6 * 3600 * 1_000_000  # 6-hour grid


def q_resample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with LOCF gap-fill (r7,
    operators/temporal.resample_locf): per user, a 6-hour grid across
    the user's event span, each point carrying the latest observation at
    or before it — the union+window as-of pattern, one shuffle, no range
    join. The oracle is DuckDB's native ASOF JOIN over an identically
    generated integer-micro grid."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.temporal import resample_locf

    ev = load_table(spark, sf_dir, "events")
    return resample_locf(ev, "user_id", "ts", "value", 6 * 3600).orderBy(
        "user_id", "grid_us"
    )


ORACLE_RESAMPLE_EVENTS = f"""
WITH obs AS (
  SELECT user_id, epoch_us(ts) AS ous, MAX(value) AS value
  FROM events GROUP BY user_id, epoch_us(ts)),
b AS (SELECT user_id, MIN(ous) AS lo, MAX(ous) AS hi FROM obs GROUP BY user_id),
g0 AS (SELECT user_id,
              -- sign-safe ceil/floor to a multiple (positive modulus),
              -- matching the engine's pmod arithmetic for pre-1970 micros
              lo + ((((-lo) % {_RESAMPLE_US}) + {_RESAMPLE_US}) % {_RESAMPLE_US}) AS s,
              hi - (((hi % {_RESAMPLE_US}) + {_RESAMPLE_US}) % {_RESAMPLE_US}) AS e
       FROM b),
grid AS (SELECT user_id, unnest(range(s, e + 1, {_RESAMPLE_US})) AS grid_us
         FROM g0 WHERE s <= e)
SELECT g.user_id, g.grid_us, o.value
FROM grid g ASOF JOIN obs o
  ON g.user_id = o.user_id AND g.grid_us >= o.ous
ORDER BY g.user_id, g.grid_us
"""


def q_quantiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantiles at 100 TB scale (operators/aggregates.py
    ``exact_rank_select``): iterative histogram bisection finds the true
    ⌊(n−1)p⌋-th order statistics in 3 one-scan rounds — no global sort,
    no per-group value gather (the ``percentile`` A3 flavor OOMs at
    scale; ``approxQuantile`` is approximate). The oracle is the
    DECLARATIVE SPEC itself — a rank select over a full sort — so the
    hash match proves the distributed selection algorithm exact."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.aggregates import exact_rank_select

    li = load_table(spark, sf_dir, "lineitem")
    res = exact_rank_select(li, "l_extendedprice", [0.25, 0.5, 0.75, 0.9, 0.99])
    return local_df(spark, res, "p DOUBLE, q DOUBLE").orderBy("p")


ORACLE_QUANTILES_SCALABLE = """
WITH s AS (
  SELECT l_extendedprice AS v,
         ROW_NUMBER() OVER (ORDER BY l_extendedprice) - 1 AS rk
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
n AS (SELECT COUNT(*) AS n FROM s),
ps AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p)
SELECT ps.p AS p, s.v AS q
FROM ps CROSS JOIN n JOIN s ON s.rk = CAST(floor((n.n - 1) * ps.p) AS BIGINT)
ORDER BY p
"""


def q_fuzzy_join_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join on customer names (entity-resolution
    shape): Ed-Join prefix-filtered q-gram blocking + exact bounded
    levenshtein verify — never a cross join. The oracle is the literal
    quadratic spelling; the exact verify step makes the blocking
    invisible, so a hash match certifies the whole candidate pipeline
    (operators/fuzzy.py). method="symdel" is passed explicitly: customer
    names are known-short keys, so the caller skips the scan-free auto
    hybrid's empty prefix branch (~7% fixed stage cost measured at
    sf0.1) — the documented contract for known-shape corpora; auto
    stays the default for unknown ones."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.fuzzy import edit_distance_pairs

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_pairs(
        cust, "c_name", "c_custkey", max_dist=1, q=3, method="symdel"
    )


def _fuzzy_oracle() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.fuzzy import edit_distance_pairs_sql

    return edit_distance_pairs_sql("customer", "c_name", "c_custkey", max_dist=1)


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-key outlier detection: lower-median + MAD rank-select
    windows, flag |v − med| > 3·MAD (operators/anomaly.py). Every
    reported number is an actual data value picked at a deterministic
    rank, so the float outputs are bit-exact against the oracle. Keyed
    on user_id — the high-cardinality shape whose per-key windows stay
    small at any table size, so the giant-key auto-detection (r9:
    low-cardinality keys route through IEEE-bit histogram bisection
    automatically) is disabled to skip its counting pass."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.anomaly import mad_anomalies

    ev = load_table(spark, sf_dir, "events")
    return mad_anomalies(ev, key_col="user_id", giant_key_rows=None)


def _anomaly_oracle() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.anomaly import mad_anomalies_sql

    return mad_anomalies_sql("events", key_col="user_id")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the event lake (operators/funnel.py): users
    whose first view precedes a click precedes a purchase — k−1 chained
    per-user min aggregations, all shuffles on the high-cardinality user
    key. Strict ordering semantics; integer-microsecond arithmetic keeps
    both engines bit-identical."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.funnel import funnel_conversion

    ev = load_table(spark, sf_dir, "events")
    return funnel_conversion(ev, ["view", "click", "purchase"])


def _funnel_oracle() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.funnel import funnel_conversion_sql

    return funnel_conversion_sql("events", ["view", "click", "purchase"])


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/funnel.py): cohort =
    integer day of first event, offsets in positive-integer week
    divisions — exact in both engines."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.funnel import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


def _retention_oracle() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.funnel import cohort_retention_sql

    return cohort_retention_sql("events")


def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling of the event stream to 6-hour bars per user
    (operators/temporal.resample_ohlc): one hash aggregation, open/close
    via min_by/max_by over the total (µs, event_id) order. The oracle
    spells the same semantics as rank-selects — divergent plans, one
    answer."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.temporal import resample_ohlc

    ev = load_table(spark, sf_dir, "events")
    return resample_ohlc(ev, "user_id", "ts", "value", "event_id", 21_600_000_000)


def _ohlc_oracle() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.temporal import resample_ohlc_sql

    return resample_ohlc_sql(
        "events", "user_id", "ts", "value", "event_id", 21_600_000_000
    )


ADVANCED_QUERIES = {
    "tpch_q1": q_tpch_q1,
    "quantiles_scalable": q_quantiles_scalable,
    "resample_events": q_resample_events,
    "tpch_q4": q_tpch_q4,
    "tpch_q6": q_tpch_q6,
    "tpch_q7": q_tpch_q7,
    "tpch_q8": q_tpch_q8,
    "tpch_q10": q_tpch_q10,
    "tpch_q12": q_tpch_q12,
    "tpch_q13": q_tpch_q13,
    "tpch_q14": q_tpch_q14,
    "tpch_q15": q_tpch_q15,
    "tpch_q2": q_tpch_q2,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q16": q_tpch_q16,
    "tpch_q17": q_tpch_q17,
    "tpch_q20": q_tpch_q20,
    "tpch_q21": q_tpch_q21,
    "tpch_q22": q_tpch_q22,
    "tpch_q18": q_tpch_q18,
    "tpch_q19": q_tpch_q19,
    "subquery_exists": q_subquery_exists,
    "subquery_scalar": q_subquery_scalar,
    "window_analytics": q_window_analytics,
    "upsert": q_upsert,
    "scd2_dim": q_scd2_dim,
    "zorder_key": q_zorder_key,
    "array_funcs": q_array_funcs,
    "explode_tokens": q_explode_tokens,
    "udf_vectorized": q_udf_vectorized,
    "agg_approx": q_agg_approx,
    "agg_distinct_kmv": q_agg_distinct_kmv,
    "window_navigation": q_window_navigation,
    "corpus_vocab": q_corpus_vocab,
    "text_bm25": q_text_bm25,
    "text_bigram_lm": q_text_bigram_lm,
    "pack_sequences": q_pack_sequences,
    "corpus_mix": q_corpus_mix,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "agg_grouping_sets": q_agg_grouping_sets,
    "pivot_status": q_pivot_status,
    "join_range": q_join_range,
    "join_asof": q_join_asof,
    "sessionize": q_sessionize,
    "interval_join": q_interval_join,
    "window_frame_sum": q_window_frame_sum,
    "window_range_frame": q_window_range_frame,
    "sample_split": q_sample_split,
    "sample_temperature": q_sample_temperature,
    "sample_per_group": q_sample_per_group,
    "corpus_shuffle": q_corpus_shuffle,
    "sample_weighted": q_sample_weighted,
    "sample_stratified": q_sample_stratified,
    "sim_topk_ivf": q_sim_topk_ivf,
    "sim_topk_ivf_trained": q_sim_topk_ivf_trained,
    "sim_topk_ivf_hier": q_sim_topk_ivf_hier,
    "embedding_covariance": q_embedding_covariance,
    "embedding_project": q_embedding_project,
    "embedding_classify": q_embedding_classify,
    "tokenizer_bpe": q_tokenizer_bpe,
    "tokenizer_bpe_encode": q_tokenizer_bpe_encode,
    "graph_pagerank": q_graph_pagerank,
    "fuzzy_join_editdist": q_fuzzy_join_editdist,
    "anomaly_mad": q_anomaly_mad,
    "funnel_conversion": q_funnel_conversion,
    "cohort_retention": q_cohort_retention,
    "resample_ohlc": q_resample_ohlc,
}

ADVANCED_ORACLES = {
    "tpch_q1": ORACLE_TPCH_Q1,
    "quantiles_scalable": ORACLE_QUANTILES_SCALABLE,
    "resample_events": ORACLE_RESAMPLE_EVENTS,
    "tpch_q4": ORACLE_TPCH_Q4,
    "tpch_q6": ORACLE_TPCH_Q6,
    "tpch_q7": ORACLE_TPCH_Q7,
    "tpch_q8": ORACLE_TPCH_Q8,
    "tpch_q10": ORACLE_TPCH_Q10,
    "tpch_q12": ORACLE_TPCH_Q12,
    "tpch_q13": ORACLE_TPCH_Q13,
    "tpch_q14": ORACLE_TPCH_Q14,
    "tpch_q15": ORACLE_TPCH_Q15,
    "tpch_q2": ORACLE_TPCH_Q2,
    "tpch_q9": ORACLE_TPCH_Q9,
    "tpch_q11": ORACLE_TPCH_Q11,
    "tpch_q16": ORACLE_TPCH_Q16,
    "tpch_q17": ORACLE_TPCH_Q17,
    "tpch_q20": ORACLE_TPCH_Q20,
    "tpch_q21": ORACLE_TPCH_Q21,
    "tpch_q22": ORACLE_TPCH_Q22,
    "tpch_q18": ORACLE_TPCH_Q18,
    "tpch_q19": ORACLE_TPCH_Q19,
    "subquery_exists": ORACLE_SUBQUERY_EXISTS,
    "subquery_scalar": ORACLE_SUBQUERY_SCALAR,
    "window_analytics": ORACLE_WINDOW_ANALYTICS,
    "upsert": ORACLE_UPSERT,
    "scd2_dim": ORACLE_SCD2_DIM,
    "zorder_key": _zorder_oracle(),
    "array_funcs": ORACLE_ARRAY_FUNCS,
    "explode_tokens": ORACLE_EXPLODE_TOKENS,
    "udf_vectorized": ORACLE_UDF_VECTORIZED,
    # agg_approx: deliberately no oracle — sketches are engine-specific
    "agg_distinct_kmv": ORACLE_AGG_DISTINCT_KMV,
    "window_navigation": ORACLE_WINDOW_NAVIGATION,
    "corpus_vocab": ORACLE_CORPUS_VOCAB,
    "text_bm25": ORACLE_TEXT_BM25,
    "text_bigram_lm": ORACLE_TEXT_BIGRAM_LM,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "corpus_mix": ORACLE_CORPUS_MIX,
    "agg_rollup": ORACLE_AGG_ROLLUP,
    "agg_cube": ORACLE_AGG_CUBE,
    "agg_grouping_sets": ORACLE_AGG_GROUPING_SETS,
    "pivot_status": ORACLE_PIVOT_STATUS,
    "join_range": ORACLE_JOIN_RANGE,
    "join_asof": ORACLE_JOIN_ASOF,
    "sessionize": ORACLE_SESSIONIZE,
    "interval_join": ORACLE_INTERVAL_JOIN,
    "window_frame_sum": ORACLE_WINDOW_FRAME_SUM,
    "window_range_frame": ORACLE_WINDOW_RANGE_FRAME,
    "sample_split": ORACLE_SAMPLE_SPLIT,
    "sample_temperature": ORACLE_SAMPLE_TEMPERATURE,
    "sample_per_group": ORACLE_SAMPLE_PER_GROUP,
    "corpus_shuffle": ORACLE_CORPUS_SHUFFLE,
    "sample_weighted": ORACLE_SAMPLE_WEIGHTED,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "sim_topk_ivf": ORACLE_SIM_TOPK_IVF,
    "sim_topk_ivf_trained": ORACLE_SIM_TOPK_IVF_TRAINED,
    "sim_topk_ivf_hier": ORACLE_SIM_TOPK_IVF_HIER,
    "embedding_covariance": ORACLE_EMBEDDING_COVARIANCE,
    "embedding_project": ORACLE_EMBEDDING_PROJECT,
    "embedding_classify": ORACLE_EMBEDDING_CLASSIFY,
    "tokenizer_bpe": ORACLE_TOKENIZER_BPE,
    "tokenizer_bpe_encode": ORACLE_TOKENIZER_BPE_ENCODE,
    "graph_pagerank": ORACLE_GRAPH_PAGERANK,
    "fuzzy_join_editdist": _fuzzy_oracle(),
    "anomaly_mad": _anomaly_oracle(),
    "funnel_conversion": _funnel_oracle(),
    "cohort_retention": _retention_oracle(),
    "resample_ohlc": _ohlc_oracle(),
}
