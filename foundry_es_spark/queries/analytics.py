"""Event analytics and corpus-curation queries (round 3 surface widening).

Event side — the analytics shapes every CDC consumer builds over an
ingested event table: sessionization (gaps-and-islands), ordered funnels,
retention cohorts, date-spine densification, distribution ranks, explicit
grouping sets. Corpus side — the curation primitives a training-data
pipeline runs between dedup and packing: salient-term scoring (TF-IDF),
deterministic hash sampling, token-budget source mixing, and blocked
fuzzy matching (entity resolution).

All entries have exact DuckDB oracle twins. Determinism conventions match the
rest of the surface: doubles rounded on BOTH sides, ties broken by an
integer id, sampling keyed on md5 hex (identical string output in Spark
and DuckDB — no engine-specific hash in the contract).

Scale notes are per-query; the common theme is ONE Exchange per query:
windows and the aggregations that follow them share a partitioning
prefix, so EnsureRequirements inserts no second shuffle.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from foundry_es_spark.queries.common import table


def q34_sessionize_batch(spark, sf, gap_minutes: int = 30):
    """Gaps-and-islands sessionization: a session breaks when a user is
    idle longer than `gap_minutes`. The batch twin of the streaming
    session_window (q20b) — this is the shape used to sessionize a
    replayed history where watermarking doesn't apply.

    Plan: ONE Exchange on user_id serves the lag, the running sum that
    numbers sessions, AND the final (user_id, session_id) aggregation —
    HashPartitioning(user_id) satisfies the grouped distribution because
    user_id prefixes the grouping key. `event_id` breaks ts ties so
    session boundaries are deterministic under any partitioning. The
    value sum goes through decimal(12,2): exact, summation-order-free.
    """
    ev = table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact integer gap: both engines compare the same BIGINTs
    # (a float/epoch-seconds gap would truncate differently per engine)
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ->LTZ is identity under the UTC session tz
    gap = us - F.lag(us).over(w)
    marked = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 60_000_000 * gap_minutes), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = marked.withColumn(
        "session_id", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            # decimal sum = exact & summation-order-free; surfaced as a
            # rounded double (the cross-engine comparable form)
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 2
            ).alias("total_value"),
        )
    )


Q34_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM o
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value
FROM s GROUP BY user_id, session_id
"""


def q35_funnel_stages(spark, sf):
    """Ordered three-stage funnel: signup → first click AFTER the signup →
    first purchase AFTER that click. Returns one row per stage with the
    user count that reached it.

    Plan: ONE scan, ONE exchange. The naive formulation (stage-1
    aggregate, then an equi-join back to events per later stage)
    re-scans the event table once per stage; instead, running
    conditional minima over a per-user event-time window compute every
    stage in a single pass: at any row, "the earliest valid click so
    far" is a monotone running min, and a purchase qualifies against the
    GLOBAL earliest valid click iff it qualifies against the running one
    (a valid click after the purchase can't be earlier than one before
    it). The two windows and the final per-user aggregate all share the
    user_id partitioning, so EnsureRequirements inserts one exchange
    total; the three stage counts fold in one tiny global aggregate.
    Timestamps compare exactly — no FP in the contract.
    """
    ev = table(spark, sf, "events").select("user_id", "event_type", "ts", "event_id")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    run_t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    staged = ev.withColumn(
        "click_ts",
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > run_t1), F.col("ts")
        ),
    )
    run_t2 = F.min("click_ts").over(w)
    staged = staged.withColumn(
        "purchase_ts",
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > run_t2), F.col("ts")
        ),
    )
    per_user = staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1"),
        F.min("click_ts").alias("t2"),
        F.min("purchase_ts").alias("t3"),
    )
    counts = per_user.agg(
        F.count("t1").alias("n1"), F.count("t2").alias("n2"), F.count("t3").alias("n3")
    )
    stage = F.array(
        F.struct(F.lit("signup").alias("stage"), F.lit(1).cast("bigint").alias("stage_no"), F.col("n1").alias("n_users")),
        F.struct(F.lit("click_after_signup").alias("stage"), F.lit(2).cast("bigint").alias("stage_no"), F.col("n2").alias("n_users")),
        F.struct(F.lit("purchase_after_click").alias("stage"), F.lit(3).cast("bigint").alias("stage_no"), F.col("n3").alias("n_users")),
    )
    return counts.select(F.explode(stage).alias("s")).select("s.*")


Q35_SQL = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
  FROM events GROUP BY user_id HAVING t1 IS NOT NULL
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT 'signup' AS stage, CAST(1 AS BIGINT) AS stage_no, count(*) AS n_users FROM s1
UNION ALL
SELECT 'click_after_signup', 2, count(*) FROM s2
UNION ALL
SELECT 'purchase_after_click', 3, count(*) FROM s3
"""


def q36_retention_cohorts(spark, sf):
    """Weekly retention cohorts: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) the count of distinct
    users active that week. THE activation/retention matrix.

    Plan: ONE scan. The cohort week is an unbounded min() window over the
    user partition (not a groupBy-and-join-back, which scans events
    twice); the only other exchange is the final two-key distinct-count
    aggregate. date_trunc('week') is Monday-anchored in both Spark and
    DuckDB; the offset is integer day arithmetic.
    """
    ev = table(spark, sf, "events").select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    )
    cohort = F.min("wk").over(W.partitionBy("user_id"))
    return (
        ev.select(
            "user_id",
            F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("wk"), cohort) / 7).cast("bigint").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


Q36_SQL = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
),
first AS (
  SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST((wk - cohort_week) / 7 AS BIGINT) AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM ev JOIN first USING (user_id)
GROUP BY cohort_week, week_offset
"""


def text_tfidf_topk(spark, sf, k: int = 3, min_len: int = 3):
    """Top-k salient terms per document. Term rank is INTEGER-exact —
    (tf DESC, df ASC, term ASC) — so the selected rows never depend on FP;
    the tf·idf score itself is reported rounded to 4 decimals (the one
    FP column, same ln() on both sides).

    Plan: tokenize = lower + regex split + explode (generate, no
    shuffle), then the text is scanned EXACTLY ONCE: df is a count()
    window over tf partitioned by term, not a groupBy-and-join-back —
    the join formulation re-executes the whole tokenize→tf subtree for
    the df branch (Catalyst prunes the branch differently, so the
    exchanges don't dedupe to a ReusedExchange; plan-inspected). Three
    exchanges of the small distinct-(doc,term) frame replace a second
    pass over the raw text — the right trade at corpus scale. The doc
    count is a 1-row aggregate broadcast-cross-joined in — NOT a
    driver-side .count() job per invocation (the VERDICT r2 ann_lsh
    nit).
    """
    docs = table(spark, sf, "documents")
    nd = docs.agg(F.count("*").cast("double").alias("n_docs"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).where(F.length("term") >= min_len)
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    scored = tf.withColumn("df", F.count("*").over(W.partitionBy("term")))
    w = W.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("term"))
    return (
        scored.crossJoin(F.broadcast(nd))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(
            "doc_id", "term", "tf", "df", "rnk",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
        )
    )


TFIDF_SQL = """
WITH raw AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
  FROM documents
),
terms AS (
  SELECT doc_id, term FROM raw WHERE length(term) >= 3
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
),
df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, rnk,
       round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
  FROM tf JOIN df USING (term)
), n
WHERE rnk <= 3
"""


def sample_deterministic_hash(spark, sf, hex_prefixes: int = 4):
    """Stratified corpus sampling report: a deterministic ~25 % sample
    (md5(doc_id) hex leading nibble in 0..3 — identical string function in
    Spark and DuckDB, so the SAMPLE SET ITSELF is the oracle contract, not
    just its size) with per-source totals proving the strata stay
    proportional. Integer basis points; zero FP.

    At scale this is the reproducible-subset primitive: the predicate is a
    pure row function (survives repartitioning, re-runs, engine swaps),
    pushes to the scan, and never needs a global pass — unlike
    reservoir/Bernoulli sampling whose output is run-dependent.
    """
    docs = table(spark, sf, "documents")
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        *[format(i, "x") for i in range(hex_prefixes)]
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"),
        )
        .withColumn(
            "sample_bp",
            # floor of an IEEE double division: both engines compute the
            # identical correctly-rounded quotient, so floor agrees
            F.floor(F.col("n_sampled") * 10000 / F.col("n_total")).cast("bigint"),
        )
    )


SAMPLE_SQL = """
SELECT source,
       count(*) AS n_total,
       CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3') THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(floor(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3') THEN 1 ELSE 0 END) * 10000.0
            / count(*)) AS BIGINT) AS sample_bp
FROM documents GROUP BY source
"""


def corpus_mix_budget(spark, sf, budget_chars: int = 5000):
    """Token-budget source mixing: walk each source in doc_id order and
    keep documents while the source's running character total stays within
    budget — the deterministic "sample N tokens from each source" step of
    corpus assembly. (n_chars stands in for tokens; text_token_count is
    the real counter.)

    Plan: one window cumsum per source + a narrow filter. The window key
    (source) is the natural layout key for a corpus table, so at scale
    this runs shuffle-free over a source-bucketed table; budget math is
    integer-exact.
    """
    docs = table(spark, sf, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return (
        docs.select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.sum(F.col("n_chars").cast("bigint"))
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .alias("cum_chars"),
        )
        .where(F.col("cum_chars") <= budget_chars)
    )


MIX_SQL = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(cum_chars AS BIGINT) AS cum_chars
FROM (
  SELECT doc_id, source, n_chars,
         sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_chars
  FROM documents
)
WHERE cum_chars <= 5000
"""


def corpus_domain_cap(spark, sf, cap: int = 40):
    """Per-source frequency cap (the Common-Crawl "domain cap" curation
    pass: no single site may dominate the corpus): keep at most ``cap``
    documents per source, selected by a deterministic md5 rank — so the
    kept SET is the cross-engine contract, reproducible across runs,
    partitionings, and engines (md5(doc_id) is the identical string
    function in Spark and DuckDB; doc_id breaks the astronomically
    unlikely hash tie).

    Plan: Spark's WindowGroupLimit rewrites ``row_number() <= cap`` into a
    per-map-partition partial top-``cap`` BEFORE the exchange, so the
    shuffle carries at most cap rows per (source, input partition) — a hot
    domain with 10^8 pages ships ~cap·n_partitions rows, not 10^8. The
    sort key is a per-row hash, so there is no skewed sort."""
    docs = table(spark, sf, "documents")
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        docs.select("doc_id", "source", rk.alias("rk"))
        .where(F.col("rk") <= cap)
        .select("doc_id", "source", F.col("rk").cast("bigint").alias("rk"))
    )


DOMAIN_CAP_SQL = """
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
WHERE rk <= 40
"""


def q37_date_spine(spark, sf):
    """Date-spine densification: every (user, day) cell over the table's
    full date range, zero-filled — the gap-free daily activity matrix that
    feeds charting/forecasting (a LEFT JOIN against a generated calendar,
    the standard dbt "date spine").

    Plan: one full (user_id, ts) pass for the activity aggregate plus two
    SINGLE-COLUMN passes — Catalyst prunes each auxiliary branch to just
    its column (ReadSchema shows ts-only and user_id-only scans; branch
    pruning also prevents the three subtrees deduping to one
    ReusedExchange, so forcing "one scan" would need a cache — worse at
    scale than two cheap columnar passes). The spine is generated, not
    stored: a 1-row min/max explodes into the day sequence,
    broadcast-crossed with the users, so the spine side of the left join
    never shuffles."""
    ev = table(spark, sf, "events").select(
        "user_id", F.to_date(F.col("ts")).alias("d")
    )
    acts = ev.groupBy("user_id", "d").agg(F.count("*").alias("n"))
    days = (
        acts.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    spine = acts.select("user_id").distinct().crossJoin(F.broadcast(days))
    return (
        spine.join(acts, ["user_id", "d"], "left")
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


Q37_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (
  SELECT unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS d FROM ev
),
spine AS (
  SELECT DISTINCT user_id FROM ev
),
acts AS (
  SELECT user_id, d, count(*) AS n FROM ev GROUP BY user_id, d
)
SELECT spine.user_id,
       strftime(days.d, '%Y-%m-%d') AS day,
       CAST(coalesce(acts.n, 0) AS BIGINT) AS n_events
FROM spine CROSS JOIN days
LEFT JOIN acts ON acts.user_id = spine.user_id AND acts.d = days.d
"""


def q38_distribution_ranks(spark, sf):
    """Value-distribution window functions: percent_rank, cume_dist and
    ntile(4) of order totalprice within each order priority. These are
    rational-arithmetic definitions ((rank-1)/(n-1), etc.) identical in
    both engines; o_orderkey breaks price ties so every rank is
    deterministic. One exchange + one sort serve all three."""
    o = table(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


Q38_SQL = """
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def q39_fuzzy_match_blocked(spark, sf, max_dist: int = 2):
    """Entity-resolution fuzzy join: near-identical part names found by
    BLOCKED Levenshtein — the standard record-linkage shape. Comparing all
    pairs is O(n²); the blocking key makes it an equi-join whose per-block
    candidate set is small. The key is COMPOSITE — the name's last word
    (the product noun) AND the structured brand attribute — because a
    text-only key has vocabulary-bounded cardinality: with ~8 nouns over
    20k parts a noun-only block is ~2.5k rows → ~25M candidate pairs
    (measured 30 s at sf0.1); adding brand multiplies cardinality and cuts
    candidates ~25×. Multi-attribute blocking is exactly how production ER
    pipelines keep candidate generation linear. Spark-side, the distance
    uses the threshold form — levenshtein(a, b, t) early-exits above t and
    returns -1, so non-matches cost O(t·len) not O(len²) — and is computed
    once, pre-projection. max_dist=2 targets typo-level variants; the
    synthetic names repeat heavily inside blocks, so looser thresholds
    return quadratically many pairs (dist<=6 ~ 1M rows at sf0.1). Skewed blocks salt like any hot join key; the
    a.key < b.key predicate halves candidates without a distinct. Integer
    distances — exact oracle."""
    p = table(spark, sf, "part").select(
        "p_partkey", "p_name",
        F.regexp_extract(F.col("p_name"), r"(\S+)$", 1).alias("noun"),
        F.col("p_brand").alias("brand"),
    )
    # Explicit partition count: the block table is tiny in BYTES, so AQE
    # coalesces the ENSURE_REQUIREMENTS exchange to one task and the whole
    # quadratic in-block compare serializes (measured 7.0 -> 3.5 s at
    # sf0.1) — the same trap as the compaction exchange (operators/cdc).
    p = p.repartition(
        max(2, spark.sparkContext.defaultParallelism), "noun", "brand"
    )
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.brand") == F.col("b.brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), max_dist)
            .cast("bigint")
            .alias("dist"),
        )
        .where(F.col("dist") >= 0)  # threshold form returns -1 above max_dist
    )


Q39_SQL = """
WITH p AS (
  SELECT p_partkey, p_name, p_brand AS brand,
         regexp_extract(p_name, '(\\S+)$', 1) AS noun
  FROM part
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM p a JOIN p b
  ON a.noun = b.noun AND a.brand = b.brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def q40_grouping_sets(spark, sf):
    """Explicit GROUPING SETS — the third grouping-analytics shape beside
    rollup (q9) and cube (q30): two independent one-dimensional summaries
    plus the grand total in ONE pass over orders (one shuffle feeding all
    three sets, vs three separate scans+aggregates if issued naively).
    grouping() flags disambiguate set-membership from genuine NULL keys
    identically in both engines."""
    table(spark, sf, "orders").createOrReplaceTempView("q40_orders")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS BIGINT) AS grp_p,
               CAST(grouping(o_orderstatus) AS BIGINT) AS grp_s,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS revenue
        FROM q40_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """)


Q40_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(grouping(o_orderpriority) AS BIGINT) AS grp_p,
       CAST(grouping(o_orderstatus) AS BIGINT) AS grp_s,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


def corpus_curate_e2e(spark, sf, cap: int = 40, k: int = 13, eval_mod: int = 10):
    """END-TO-END corpus curation — the composed pipeline a pre-training
    data run actually executes, as ONE declarative plan: Gopher quality
    filter → exact dedup (min-doc_id representative per sha256) → eval
    holdout + 13-gram decontamination → per-source domain cap. Output is
    the curated corpus manifest (doc_id, source, lang, n_tokens, rk).
    Each stage reuses the standalone operator's exact expressions
    (text_gopher_filter / dedup_exact_keep_first / text_decontaminate /
    corpus_domain_cap), so the composition's oracle is a CTE chain of the
    per-stage oracles — the whole pipeline is cross-engine exact.

    Scale shape: one corpus scan feeds the quality filter (scan-bandwidth
    predicate, integer basis points); dedup is the single unavoidable
    full-corpus exchange (hash of content); the eval gram set comes from a
    second PRUNED scan (doc_id % eval_mod pushdown) and is BROADCAST, so
    the surviving training side never shuffles for decontamination; the
    contaminated-id anti-join is AQE-sized (rare side); the domain cap's
    row_number()<=cap rewrites to a partial WindowGroupLimit below its
    exchange. Net: 100 TB in, two wide exchanges total (dedup, cap), both
    over already-reduced data."""
    from foundry_es_spark.queries.textstats import (
        decon_grams,
        decon_tokens,
        gopher_feature_cols,
    )

    d = table(spark, sf, "documents")
    feats = gopher_feature_cols("text")
    quality = d.where(feats["keep"]).select(
        "doc_id", "source", "lang", "text", feats["n_tokens"].alias("n_tokens")
    )
    keep_id = F.min("doc_id").over(W.partitionBy(F.sha2(F.col("text"), 256)))
    unique = quality.withColumn("keep_id", keep_id).where(
        (F.col("doc_id") == F.col("keep_id")) & (F.col("doc_id") % eval_mod != 0)
    )
    # eval grams from the FULL corpus (the benchmark is fixed, independent
    # of what curation keeps); training grams only from survivors
    ev = (
        decon_grams(decon_tokens(d.where(F.col("doc_id") % eval_mod == 0), k), k)
        .select("g")
        .distinct()
    )
    # Contamination is computed over the PRE-dedup quality training set:
    # a duplicate's representative carries identical text, hence identical
    # grams, so it is contaminated iff any of its copies is — the anti-join
    # result is provably identical, and this branch skips the dedup
    # window's full-corpus exchange (plan went 5 → 4 hash exchanges, only
    # ONE of them corpus-wide).
    contaminated = (
        decon_grams(
            decon_tokens(quality.where(F.col("doc_id") % eval_mod != 0), k), k
        )
        .join(F.broadcast(ev), "g")
        .select("doc_id")
        .distinct()
    )
    clean = unique.join(contaminated, "doc_id", "left_anti")
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        clean.select("doc_id", "source", "lang", "n_tokens", rk.alias("rk"))
        .where(F.col("rk") <= cap)
        .select(
            "doc_id", "source", "lang", "n_tokens",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


CURATE_E2E_SQL = r"""
WITH feat AS (
  SELECT doc_id, source, lang, text,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         GREATEST(CAST(length(text) AS BIGINT), 1) AS n_chars,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_tok,
         CAST(len(list_filter(string_split(text, chr(10)),
                              l -> regexp_matches(l, '^\s*[-*]'))) AS BIGINT) AS n_bullet,
         CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_distinct_lines
  FROM documents
),
quality AS (
  SELECT doc_id, source, lang, text, n_tokens FROM feat
  WHERE n_tokens BETWEEN 5 AND 10000
    AND floor(n_chars * 100 / n_tokens) BETWEEN 150 AND 1200
    AND floor(n_alpha_tok * 10000 / n_tokens) >= 6000
    AND floor(n_bullet * 10000 / n_lines) <= 9000
    AND floor(n_distinct_lines * 10000 / n_lines) >= 3000
),
uniq AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id FROM quality
  ) WHERE doc_id = keep_id AND doc_id % 10 <> 0
),
evg AS (
  SELECT DISTINCT unnest(gs) AS g FROM (
    SELECT [array_to_string(w[i:i+12], ' ') FOR i IN range(1, len(w) - 12 + 1)] AS gs
    FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents WHERE doc_id % 10 = 0)
    WHERE len(w) >= 13
  )
),
contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(gs) AS g FROM (
      SELECT doc_id,
             [array_to_string(w[i:i+12], ' ') FOR i IN range(1, len(w) - 12 + 1)] AS gs
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
            FROM uniq)
      WHERE len(w) >= 13
    )
  ) t JOIN evg USING (g)
),
clean AS (
  SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, source, lang, n_tokens, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, source, lang, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM clean
) WHERE rk <= 40
"""


def sample_stratified_split(spark, sf):
    """Deterministic stratified train/val/test assignment — the split every
    training pipeline needs to be REPRODUCIBLE across re-runs, engines, and
    repartitioning. Each document's split is a pure row function (md5 of
    the doc id, leading nibble: 0-b train ≈ 75 %, c-d val ≈ 12.5 %, e-f
    test ≈ 12.5 %), so membership never depends on row order or partition
    count, and a doc never migrates between splits when the corpus grows —
    unlike randomSplit(), whose assignment changes with partitioning.

    Output: per (lang, split) document counts, char mass, and the split's
    share of its language stratum in integer basis points (floor of an
    IEEE-exact double quotient — same convention as
    sample_deterministic_hash). The per-stratum share is computed with a
    window over the stratum, one exchange on (lang); the stratum totals
    stay in-plan (no second scan, no driver round-trip).
    """
    docs = table(spark, sf, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib.isin(*[format(i, "x") for i in range(12)]), "train")
        .when(nib.isin("c", "d"), "val")
        .otherwise("test")
    )
    per = (
        docs.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    stratum = W.partitionBy("lang")
    return per.withColumn(
        "split_bp",
        F.floor(F.col("n_docs") * 10000 / F.sum("n_docs").over(stratum)).cast(
            "bigint"
        ),
    )


STRATIFIED_SPLIT_SQL = """
WITH per AS (
  SELECT lang,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7','8','9','a','b')
              THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
              THEN 'val' ELSE 'test' END AS split,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY 1, 2
)
SELECT lang, split, n_docs, sum_chars,
       CAST(floor(n_docs * 10000.0 / sum(n_docs) OVER (PARTITION BY lang))
            AS BIGINT) AS split_bp
FROM per
"""


QUERIES = {
    "q34_sessionize_batch": q34_sessionize_batch,
    "q35_funnel_stages": q35_funnel_stages,
    "q36_retention_cohorts": q36_retention_cohorts,
    "text_tfidf_topk": text_tfidf_topk,
    "sample_deterministic_hash": sample_deterministic_hash,
    "sample_stratified_split": sample_stratified_split,
    "corpus_mix_budget": corpus_mix_budget,
    "corpus_domain_cap": corpus_domain_cap,
    "q37_date_spine": q37_date_spine,
    "q38_distribution_ranks": q38_distribution_ranks,
    "q39_fuzzy_match_blocked": q39_fuzzy_match_blocked,
    "q40_grouping_sets": q40_grouping_sets,
    "corpus_curate_e2e": corpus_curate_e2e,
}

ORACLES = {
    "q34_sessionize_batch": Q34_SQL,
    "q35_funnel_stages": Q35_SQL,
    "q36_retention_cohorts": Q36_SQL,
    "text_tfidf_topk": TFIDF_SQL,
    "sample_deterministic_hash": SAMPLE_SQL,
    "sample_stratified_split": STRATIFIED_SPLIT_SQL,
    "corpus_mix_budget": MIX_SQL,
    "corpus_domain_cap": DOMAIN_CAP_SQL,
    "q37_date_spine": Q37_SQL,
    "q38_distribution_ranks": Q38_SQL,
    "q39_fuzzy_match_blocked": Q39_SQL,
    "q40_grouping_sets": Q40_SQL,
    "corpus_curate_e2e": CURATE_E2E_SQL,
}
