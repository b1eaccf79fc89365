"""Tier C — events privacy/ops: erasure, Merkle digests, pagination,
churn scoring, sketches (bloom/HLL/count-min), SCD2, chi-square.

Split out of the original plans/catalog.py; the registry, driver
window, and rotation stay in catalog.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from duckdb_cluster_hash_spark.functions.clusterhash import cluster_node_col
from duckdb_cluster_hash_spark.plans._registry import _t, query
from duckdb_cluster_hash_spark.streaming.events import scratch_dir


@query(
    "events_enriched_by_segment",
    oracle=(
        "SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value "
        "FROM events LEFT JOIN customer ON user_id = c_custkey "
        "GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type"
    ),
)
def events_enriched_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment, graded on its batch equivalent
    (C7): events joined to the customer dim (broadcast) and rolled up per
    (segment, event type).  The same ``enrich_events_with_dim`` runs
    stateless inside a readStream — see streaming/events.py and
    tests/test_streaming.py.
    """
    from duckdb_cluster_hash_spark.streaming import enrich_events_with_dim

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    return (
        enrich_events_with_dim(ev, cust)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


@query(
    "events_hll_shard_distinct",
    oracle=(
        "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, "
        "CAST(1 AS INTEGER) AS within_2pct FROM events"
    ),
)
def events_hll_shard_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (C8, the 100 TB architecture):
    one Datasketches HLL per shard (events grouped by their cluster_node
    route), merged centrally with hll_union_agg — the pattern that
    replaces a global distinct shuffle with |shards| kilobyte-sized
    sketches.

    HLL estimates are implementation-specific, so the portable oracle is
    a CONTRACT (like emb_ivf_kmeans_recall): the merged estimate must
    land within 2% of the exact distinct count (default lgK=12 gives
    ~1.6% typical error; at this corpus's cardinality the sketch is in
    exact sparse mode).  The exact count rides along and is value-hashed
    directly.
    """
    ev = _t(spark, sf_dir, "events")
    tagged = ev.withColumn(
        "node", cluster_node_col(F.col("user_id").cast("string"))
    )
    merged = tagged.groupBy("node").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.join(F.broadcast(merged)).select(
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.02 * F.col("exact_users")
        )
        .cast("int")
        .alias("within_2pct"),
    )


# Shared PII construction: a deterministic raw-log view of events (the
# shape scrubbing actually sees: free text with embedded user ids, IPv4s,
# and — on signup lines — contact emails).  Built identically in both
# engines so the graded artifact is the REDACTION semantics, not the data.
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


_PII_IP_RE = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"


@query(
    "events_pii_redaction",
    oracle=(
        "WITH lines AS (SELECT event_type, event_type || ' user=' || user_id "
        "|| ' ip=10.' || (user_id % 200) || '.' || (event_id % 250) || '.' "
        "|| (event_id % 97) || CASE WHEN event_type = 'signup' THEN "
        "' contact=u' || user_id || '@example.com' ELSE '' END AS line "
        "FROM events), "
        "red AS (SELECT event_type, line, regexp_replace(regexp_replace("
        f"line, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'), '{_PII_IP_RE}', "
        "'<IP>', 'g') AS redacted FROM lines) "
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_lines, "
        f"CAST(sum(len(regexp_extract_all(line, '{_PII_EMAIL_RE}'))) "
        "AS BIGINT) AS n_emails, "
        f"CAST(sum(len(regexp_extract_all(line, '{_PII_IP_RE}'))) "
        "AS BIGINT) AS n_ips, "
        "CAST(count(DISTINCT redacted) AS BIGINT) AS distinct_redacted, "
        "CAST(sum(CASE WHEN redacted LIKE '%<IP>%' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_redacted_ip "
        "FROM red GROUP BY event_type ORDER BY event_type"
    ),
)
def events_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over a raw-log view of events — the
    scrubbing pass every training-data pipeline runs before anything
    else.  Emails and IPv4s are detected with the same RE2-safe regexes
    on both engines (no lookaround, no \\b ambiguity) and redacted
    email-first (an address contains no IP-shaped substring after
    ``<EMAIL>`` replacement, so the order is deterministic).

    Scale: pure map-side string expressions inside whole-stage codegen
    (regexp_count + regexp_replace, zero Python) feeding one partial
    aggregation on the 5-value event_type key; the distinct-redacted
    count is the only expand and runs on already-redacted (shorter)
    strings.
    """
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.col("event_type"),
        F.lit(" user="),
        F.col("user_id").cast("string"),
        F.lit(" ip=10."),
        (F.col("user_id") % 200).cast("string"),
        F.lit("."),
        (F.col("event_id") % 250).cast("string"),
        F.lit("."),
        (F.col("event_id") % 97).cast("string"),
        F.when(
            F.col("event_type") == "signup",
            F.concat(
                F.lit(" contact=u"),
                F.col("user_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(line, _PII_EMAIL_RE, "<EMAIL>"),
        _PII_IP_RE,
        "<IP>",
    )
    return (
        ev.select(
            "event_type",
            line.alias("line"),
            redacted.alias("redacted"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.regexp_count("line", F.lit(_PII_EMAIL_RE)))
            .cast("bigint")
            .alias("n_emails"),
            F.sum(F.regexp_count("line", F.lit(_PII_IP_RE)))
            .cast("bigint")
            .alias("n_ips"),
            F.countDistinct("redacted").alias("distinct_redacted"),
            F.sum(F.col("redacted").contains("<IP>").cast("bigint"))
            .cast("bigint")
            .alias("n_redacted_ip"),
        )
        .orderBy("event_type")
    )


@query(
    "events_user_similarity_topk",
    oracle=(
        "WITH ud AS (SELECT user_id, CAST(ts AS DATE) AS day, "
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id, day), "
        "a AS (SELECT day, n AS an FROM ud WHERE user_id = 0), "
        "sa AS (SELECT CAST(sum(an * an) AS BIGINT) AS sa2 FROM a), "
        "su AS (SELECT user_id, CAST(sum(n * n) AS BIGINT) AS su2 "
        "FROM ud WHERE user_id != 0 GROUP BY user_id), "
        "cr AS (SELECT ud.user_id, CAST(sum(ud.n * a.an) AS BIGINT) AS cross_ "
        "FROM ud JOIN a ON ud.day = a.day WHERE ud.user_id != 0 "
        "GROUP BY ud.user_id) "
        "SELECT su.user_id AS user_id, "
        "su.su2 - 2 * coalesce(cr.cross_, 0) + sa.sa2 AS dist2 "
        "FROM su LEFT JOIN cr ON su.user_id = cr.user_id CROSS JOIN sa "
        "ORDER BY dist2, su.user_id LIMIT 10"
    ),
)
def events_user_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the REPOSE/EDBT'19 distributed
    top-k shape on activity series): the 10 users whose daily-activity
    count vector is closest to user 0's in squared euclidean distance —
    computed by the dot-product decomposition
    ``dist2 = su2 - 2*cross + sa2`` so missing days need NO full-outer
    densification: su2 aggregates each user's own days, the cross term
    is an INNER join on the shared days only, sa2 is a broadcast scalar.
    Counts are integers, so the distance is exact on both engines.

    Scale: the per-(user, day) rollup shrinks raw events first; the
    anchor series is a tiny broadcast side; per-user partial aggregates
    carry one bigint each; top-10 plans as TakeOrderedAndProject.
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    anchor = ud.where(F.col("user_id") == 0).select(
        "day", F.col("n").alias("an")
    )
    sa2 = int(
        anchor.agg(F.sum(F.col("an") * F.col("an")).cast("bigint")).head()[0]
    )
    rest = ud.where(F.col("user_id") != 0)
    su2 = rest.groupBy("user_id").agg(
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("su2")
    )
    cross = (
        rest.join(F.broadcast(anchor), "day")
        .groupBy("user_id")
        .agg(F.sum(F.col("n") * F.col("an")).cast("bigint").alias("cross_"))
    )
    return (
        su2.join(cross, "user_id", "left")
        .select(
            "user_id",
            (
                F.col("su2")
                - 2 * F.coalesce(F.col("cross_"), F.lit(0))
                + F.lit(sa2)
            )
            .cast("bigint")
            .alias("dist2"),
        )
        .orderBy(F.asc("dist2"), F.asc("user_id"))
        .limit(10)
    )


@query(
    "events_segment_scd2",
    oracle=(
        "WITH o AS (SELECT user_id, ts, event_id, event_type, "
        "CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type "
        "THEN 1 ELSE 0 END AS new_run "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "r AS (SELECT *, sum(new_run) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_id FROM o), "
        "g AS (SELECT user_id, run_id, min(event_type) AS event_type, "
        "CAST(floor(epoch(min(ts))) AS BIGINT) AS valid_from_epoch, "
        "CAST(count(*) AS BIGINT) AS n_events FROM r GROUP BY user_id, run_id) "
        "SELECT user_id, event_type, valid_from_epoch, "
        "lead(valid_from_epoch) OVER uw AS valid_to_epoch, n_events, "
        "CAST(CASE WHEN lead(valid_from_epoch) OVER uw IS NULL "
        "THEN 1 ELSE 0 END AS INTEGER) AS is_current "
        "FROM g WINDOW uw AS (PARTITION BY user_id ORDER BY run_id)"
    ),
)
def events_segment_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change log: compress
    each user's event-type sequence into validity intervals
    [valid_from, valid_to) with an is_current flag — the warehouse
    operator that turns an append-only activity stream into point-in-time
    dimension history (gaps-and-islands run compression + interval
    stitching via lead()).

    Determinism: runs are ordered by (ts, event_id) — a total order on
    both engines — and every output value is an integer epoch / count,
    so the hash comparison is exact.

    Scale: one shuffle by user_id drives all three layers (run flagging,
    run-id prefix sum, and the interval lead() all share the user_id
    partitioning); the run aggregation is keyed partial aggregation on
    (user_id, run_id) — never a global sort, state linear in runs.
    """
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 0
        )
        .otherwise(1)
        .alias("new_run"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("new_run").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    grouped = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.floor(F.unix_timestamp(F.min("ts"))).cast("bigint").alias(
            "valid_from_epoch"
        ),
        F.count("*").cast("bigint").alias("n_events"),
    )
    uw = Window.partitionBy("user_id").orderBy("run_id")
    lead_from = F.lead("valid_from_epoch").over(uw)
    return grouped.select(
        "user_id",
        "event_type",
        "valid_from_epoch",
        lead_from.alias("valid_to_epoch"),
        "n_events",
        F.when(lead_from.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


@query(
    "events_cumulative_hll_curve",
    oracle=(
        # contract oracle (events_hll_shard_distinct pattern): the exact
        # cumulative-distinct curve rides along and is value-hashed; the
        # prefix-merged sketch estimate must land within 2% at EVERY day
        "WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events), "
        "fu AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id), "
        "nu AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS c "
        "FROM fu GROUP BY first_day), "
        "d AS (SELECT DISTINCT day FROM e) "
        "SELECT d.day, CAST(sum(coalesce(nu.c, 0)) OVER "
        "(ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS exact_cum_users, "
        "CAST(1 AS INTEGER) AS within_2pct "
        "FROM d LEFT JOIN nu ON d.day = nu.day ORDER BY d.day"
    ),
)
def events_cumulative_hll_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user curve from MERGEABLE daily sketches (C8's
    100 TB architecture applied over time instead of over shards): one
    Datasketches HLL per day, prefix-unioned into "users ever seen
    through day D" — the pattern that replaces D ever-growing global
    distinct scans with a kilobyte sketch per day, and the reason
    sketches (not exact sets) are what a warehouse stores per partition.

    Like every implementation-specific estimate here, the portable
    oracle is a CONTRACT: the exact curve (first-appearance trick:
    cumulative distinct == running sum of per-day first-seen users)
    rides along and is hashed; the prefix-merged estimate must land
    within 2% of it on every day.

    Scale: events collapse to |days| sketch rows by keyed partial
    aggregation before anything pairwise; the prefix union joins the
    DAY-LEVEL sketch table to itself (|days|^2 tiny rows); the exact
    rider collapses to per-user rows map-side first.  At 100 TB only
    the sketch build touches raw data — one linear pass.
    """
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    daily_sk = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    # prefix merge: day d unions every day e <= d (day-level table only)
    prefix_est = (
        daily_sk.alias("l")
        .join(
            F.broadcast(daily_sk.select(F.col("day").alias("eday"), "sk")).alias(
                "r"
            ),
            F.col("r.eday") <= F.col("l.day"),
        )
        .groupBy(F.col("l.day").alias("day"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("r.sk"))).alias("est"))
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_users = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    days = ev.select("day").distinct()
    exact_cum = (
        days.join(new_users, "day", "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .withColumn(
            "exact_cum_users",
            F.sum("c")
            .over(
                Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
            )
            .cast("bigint"),
        )
        .select("day", "exact_cum_users")
    )
    return (
        exact_cum.join(prefix_est, "day")
        .select(
            "day",
            "exact_cum_users",
            (
                F.abs(F.col("est") - F.col("exact_cum_users"))
                <= 0.02 * F.col("exact_cum_users")
            )
            .cast("int")
            .alias("within_2pct"),
        )
        .orderBy("day")
    )


@query(
    "events_chi2_type_dow",
    oracle=(
        "WITH cells AS (SELECT event_type, "
        "(CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS dow, "
        "CAST(count(*) AS BIGINT) AS o_count FROM events "
        "GROUP BY event_type, dow), "
        "m AS (SELECT event_type, dow, o_count, "
        "CAST(sum(o_count) OVER (PARTITION BY event_type) AS HUGEINT) AS r, "
        "CAST(sum(o_count) OVER (PARTITION BY dow) AS HUGEINT) AS c, "
        "CAST(sum(o_count) OVER () AS HUGEINT) AS n FROM cells) "
        "SELECT event_type, CAST(dow AS BIGINT) AS dow, o_count, "
        "CAST((r * c * 1000) // n AS BIGINT) AS e_milli, "
        "CAST(((o_count * n - r * c) * (o_count * n - r * c) * 1000000) "
        "// (n * r * c) AS BIGINT) AS chi2_contrib_micro "
        "FROM m ORDER BY event_type, dow"
    ),
)
def events_chi2_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence census of event_type x day-of-week — the
    drift/AB-test signal — in EXACT truncated-integer arithmetic: the
    per-cell contribution is defined as ((O*N - R*C)^2 * 1e6) div (N*R*C)
    with 128-bit intermediates (DECIMAL(38,0) / HUGEINT), so both engines
    produce bit-identical values with no floating point anywhere.

    Day-of-week is (epoch_days % 7), not the engines' dayofweek()
    builtins — Spark numbers Sunday=1, DuckDB Sunday=0, so the portable
    bucket is pure integer arithmetic on the epoch.

    Scale: raw events collapse to the 35-cell (type, dow) census by one
    keyed partial aggregation; the three marginal sums are windows over
    that census table only (tens of rows — waived SinglePartition), the
    classic "sufficient statistics first" pattern.
    """
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    dow = F.expr("(unix_timestamp(ts) div 86400) % 7").cast("bigint")
    cells = ev.groupBy(
        "event_type", dow.alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o_count"))
    m = (
        cells.withColumn(
            "r",
            F.sum("o_count")
            .over(Window.partitionBy("event_type"))
            .cast("decimal(38,0)"),
        )
        .withColumn(
            "c",
            F.sum("o_count").over(Window.partitionBy("dow")).cast("decimal(38,0)"),
        )
        .withColumn(
            "n",
            F.sum("o_count").over(Window.partitionBy()).cast("decimal(38,0)"),
        )
    )
    return m.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        "o_count",
        F.expr("CAST((r * c * 1000) div n AS BIGINT)").alias("e_milli"),
        F.expr(
            "CAST(((o_count * n - r * c) * (o_count * n - r * c) * 1000000) "
            "div (n * r * c) AS BIGINT)"
        ).alias("chi2_contrib_micro"),
    ).orderBy("event_type", "dow")


def _bloom_pos_duck(i: int) -> str:
    return (
        f"(('0x' || substr(md5('b{i}:' || CAST(user_id AS VARCHAR)), 1, 15))"
        "::BIGINT % 4096)"
    )


def _bloom_oracle_sql() -> str:
    pos_union = " UNION ALL ".join(
        f"SELECT DISTINCT {_bloom_pos_duck(i)} AS pos FROM buyers" for i in range(3)
    )
    click_pos = " UNION ALL ".join(
        f"SELECT event_id, user_id, value, {_bloom_pos_duck(i)} AS pos FROM clicks"
        for i in range(3)
    )
    return (
        "WITH buyers AS (SELECT DISTINCT user_id FROM events "
        "WHERE event_type = 'purchase'), "
        "clicks AS (SELECT event_id, user_id, value FROM events "
        "WHERE event_type = 'click'), "
        f"bits AS (SELECT DISTINCT pos FROM ({pos_union})), "
        f"cp AS ({click_pos}), "
        "cand AS (SELECT cp.event_id, min(cp.user_id) AS user_id, "
        "min(cp.value) AS value FROM cp JOIN bits ON bits.pos = cp.pos "
        "GROUP BY cp.event_id HAVING count(*) = 3), "
        "truth AS (SELECT c.* FROM clicks c JOIN buyers b "
        "ON b.user_id = c.user_id) "
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM buyers) AS n_buyers, "
        "(SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set, "
        "(SELECT CAST(count(*) AS BIGINT) FROM clicks) AS n_clicks, "
        "(SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates, "
        "(SELECT CAST(count(*) AS BIGINT) FROM cand) - "
        "(SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_false_positives, "
        "(SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_clicks_by_buyers, "
        "(SELECT CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "FROM truth) AS buyer_click_value"
    )


@query("events_bloom_prefilter_join", oracle=_bloom_oracle_sql())
def events_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pre-filtering for a semi-join — the shuffle
    killer behind Spark's own runtime row-level filtering, built
    explicitly so EVERY number is cross-engine graded (m=4096 bits,
    k=3, bit positions from the repo's md5-digest convention; Spark's
    native ``bloom_filter_agg``/``might_contain`` pair is the
    production spelling, but its bit layout is implementation-specific
    — this one is portable by construction): the distinct buyer set
    builds a 4096-bit filter, the click stream keeps only rows whose 3
    positions are ALL set (the bloom candidates — a superset with
    deterministic, GRADED false positives), and the exact semi-join
    then runs on the candidates only.

    The graded row pins the whole mechanism: buyer count, bits set,
    click volume, candidate count, false-positive count (candidates
    minus truth — the quantity a wrong hash or bit layout corrupts),
    and the exact final answer.

    Scale: the bit table is <= 4096 rows regardless of input size (a
    512-byte bitmask in spirit) and broadcasts; the membership test is
    map-side (3 hash exprs + broadcast join + per-event count=3), so
    the expensive user-key shuffle sees only |candidates| rows — at
    100 TB with a selective buyer set that is the difference between
    shuffling the click table and shuffling a rounding error of it.
    """
    ev = _t(spark, sf_dir, "events")
    buyers = (
        ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    )

    def pos(i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"b{i}:"), F.col("user_id").cast("string"))),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint") % 4096
        )

    bits = (
        buyers.select(F.explode(F.array(pos(0), pos(1), pos(2))).alias("pos"))
        .distinct()
    )
    cand = (
        clicks.select(
            "event_id", "user_id", "value",
            F.explode(F.array(pos(0), pos(1), pos(2))).alias("pos"),
        )
        .join(F.broadcast(bits), "pos")
        .groupBy("event_id")
        .agg(
            F.min("user_id").alias("user_id"),
            F.min("value").alias("value"),
            F.count("*").alias("hits"),
        )
        .where(F.col("hits") == 3)
    )
    truth = cand.join(buyers, "user_id", "left_semi")
    summary = (
        cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
        .crossJoin(
            truth.agg(
                F.count("*").cast("bigint").alias("n_clicks_by_buyers"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("buyer_click_value"),
            )
        )
        .crossJoin(buyers.agg(F.count("*").cast("bigint").alias("n_buyers")))
        .crossJoin(bits.agg(F.count("*").cast("bigint").alias("bits_set")))
        .crossJoin(clicks.agg(F.count("*").cast("bigint").alias("n_clicks")))
    )
    return summary.select(
        "n_buyers", "bits_set", "n_clicks", "n_candidates",
        (F.col("n_candidates") - F.col("n_clicks_by_buyers"))
        .cast("bigint")
        .alias("n_false_positives"),
        "n_clicks_by_buyers", "buyer_click_value",
    )


@query(
    "events_user_erasure",
    oracle=(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(sum(event_id) AS BIGINT) AS id_sum, "
        "CAST(sum(CASE WHEN user_id = 42 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS erased_rows_left, "
        "CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "AS total_value "
        "FROM events WHERE user_id <> 42 "
        "GROUP BY event_type ORDER BY event_type"
    ),
)
def events_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure as a MINIMAL partition rewrite (the
    GDPR/CCPA lake operation: delete one user's rows without touching
    the other 99.97% of files): events land hash-partitioned into 32
    user buckets (``user_id % 32`` — the layout that makes per-user
    operations surgical); erasing user 42 then locates exactly ONE
    bucket, rewrites it filtered, and leaves the other 31 partitions'
    files byte-identical — asserted in-query over (path, size, mtime)
    snapshots, so a regression to a full-table rewrite fails loudly,
    not slowly.  The graded rollup runs over the post-erasure table and
    must equal the oracle's direct ``user_id <> 42`` computation —
    erasure is only correct if it removes exactly that user and
    preserves everyone else bit-for-bit (``erased_rows_left`` pins the
    zero).

    Scale: locate-then-rewrite touches |affected partitions| ~ 1 of
    4096 at a realistic bucket count; the same layout serves the
    per-user serving path (C1's data placement).  Dynamic partition
    overwrite gives readers old-or-new, never half.
    """
    import os as _os
    import shutil as _sh

    root = scratch_dir("erasure", sf_dir)
    _sh.rmtree(root, ignore_errors=True)
    ev = _t(spark, sf_dir, "events")
    (
        ev.withColumn("part_bucket", (F.col("user_id") % 32).cast("int"))
        .write.partitionBy("part_bucket")
        .mode("overwrite")
        .parquet(root)
    )

    def snapshot() -> dict[str, tuple[int, float]]:
        out: dict[str, tuple[int, float]] = {}
        for dirpath, _dirs, files in _os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = _os.path.join(dirpath, f)
                    st = _os.stat(p)
                    out[p] = (st.st_size, st.st_mtime)
        return out

    before = snapshot()
    target = _os.path.join(root, "part_bucket=10")  # 42 % 32
    filtered = (
        spark.read.parquet(target).where(F.col("user_id") != 42)
    )
    tmp_new = target + "__new"
    filtered.write.mode("overwrite").parquet(tmp_new)
    _sh.rmtree(target)
    _os.rename(tmp_new, target)
    after = snapshot()

    untouched_before = {p: v for p, v in before.items() if not p.startswith(target)}
    untouched_after = {p: v for p, v in after.items() if not p.startswith(target)}
    if untouched_before != untouched_after:
        raise RuntimeError("erasure touched partitions outside user 42's bucket")
    if any(p.startswith(target) and p in after for p in before):
        raise RuntimeError("target partition files were not rewritten")

    merged = spark.read.option("basePath", root).parquet(root)
    return (
        merged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.sum((F.col("user_id") == 42).cast("int"))
            .cast("bigint")
            .alias("erased_rows_left"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "events_merkle_bucket_digests",
    oracle=(
        "WITH r AS (SELECT CAST(user_id % 16 AS BIGINT) AS bucket, "
        "CAST(event_id % 256 AS BIGINT) AS leaf, "
        "md5(CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR) "
        "|| '|' || event_type) AS rh FROM events), "
        "leaves AS (SELECT bucket, leaf, CAST(count(*) AS BIGINT) AS n, "
        "list_reduce(list_prepend('', list_sort(list(rh))), "
        "(a, b) -> md5(a || b)) AS lh FROM r GROUP BY bucket, leaf) "
        "SELECT bucket, CAST(sum(n) AS BIGINT) AS n_rows, "
        "CAST(count(*) AS BIGINT) AS n_leaves, "
        "list_reduce(list_prepend('', list_sort(list(lh))), "
        "(a, b) -> md5(a || b)) AS digest "
        "FROM leaves GROUP BY bucket ORDER BY bucket"
    ),
)
def events_merkle_bucket_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree content digests per storage bucket — the integrity /
    replica-consistency primitive (anti-entropy a la Dynamo/Cassandra:
    two sites compare 16 bucket digests, recurse into the one that
    differs, and ship only the divergent leaf — never the table): row
    digests (md5 over the stable identity columns) fold into 256 LEAF
    digests per bucket (``event_id % 256``), and leaf digests fold into
    the bucket digest — both folds over SORTED digest lists, so the
    result is a pure function of row CONTENT, independent of scan
    order, task layout, or file arrangement (the property that makes
    cross-site comparison meaningful).  The md5 fold chain is sequential
    left-fold on both engines (Spark ``aggregate`` with '' init; DuckDB
    ``list_reduce(list_prepend(...))`` — the dot_fold convention).

    Scale: the tree is the point — each level's state is a fixed-width
    digest, leaves aggregate map-side per (bucket, leaf) key, and a
    divergence drill-down reads ONE leaf's rows, not the bucket; at
    100 TB the leaf fan-out widens (e.g. 64k) so no single sorted list
    outgrows an executor.  Digest columns only — no payload ships.
    """
    r = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 16).cast("bigint").alias("bucket"),
        (F.col("event_id") % 256).cast("bigint").alias("leaf"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("user_id").cast("string"),
                F.col("event_type"),
            )
        ).alias("rh"),
    )
    fold = "aggregate(%s, '', (a, b) -> md5(concat(a, b)))"
    leaves = (
        r.groupBy("bucket", "leaf")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr(fold % "sort_array(collect_list(rh))").alias("lh"),
        )
    )
    return (
        leaves.groupBy("bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_leaves"),
            F.expr(fold % "sort_array(collect_list(lh))").alias("digest"),
        )
        .orderBy("bucket")
    )


@query(
    "events_sequence_edit_distance",
    oracle=(
        "WITH r AS (SELECT user_id, substr(event_type, 1, 1) AS c, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "AS rn FROM events), "
        "seqs AS (SELECT user_id, string_agg(c, '' ORDER BY rn) AS seq "
        "FROM r WHERE rn <= 8 GROUP BY user_id), "
        "d AS (SELECT user_id, CAST(levenshtein(seq, 'cvpcvpcv') AS BIGINT) "
        "AS dist FROM seqs) "
        "SELECT dist, CAST(count(*) AS BIGINT) AS n_users, "
        "CAST(sum(user_id) AS BIGINT) AS user_id_sum "
        "FROM d GROUP BY dist ORDER BY dist"
    ),
)
def events_sequence_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence alignment: each user's first 8 events (by the
    (ts, event_id) total order) collapse to a type-initial string, and
    its Levenshtein distance to the canonical engagement loop
    'cvpcvpcv' (click-view-purchase x2+) buckets users by how far their
    actual journey deviates — the sequence-similarity family's exact
    member (the Markov matrix grades one-step transitions; this grades
    whole-trajectory shape, insertions and drops included).  Distance
    is integer, the prefix cap makes it O(64) per user, and both
    engines run their native ``levenshtein``.

    Scale: sequences build from ONE keyed window capped at 8 rows
    (WindowGroupLimit prunes deeper history map-side before the
    shuffle); the distance is a scalar expression per user, and the
    histogram is a keyed aggregate — no joins, no all-pairs alignment.
    """
    from pyspark.sql import Window

    r = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.substring("event_type", 1, 1).alias("c"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.asc("ts"), F.asc("event_id")
                )
            )
            .alias("rn"),
        )
        .where(F.col("rn") <= 8)
    )
    seqs = r.groupBy("user_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(rn, c))), x -> x.c)"),
            "",
        ).alias("seq")
    )
    return (
        seqs.select(
            "user_id",
            F.levenshtein("seq", F.lit("cvpcvpcv")).cast("bigint").alias("dist"),
        )
        .groupBy("dist")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("user_id").cast("bigint").alias("user_id_sum"),
        )
        .orderBy("dist")
    )


# Fixed integer model weights for the batch-scoring query (a trained
# linear model frozen to a milli-scaled integer grid — the quantized
# form models actually deploy with).
_CHURN_WEIGHTS = {
    "n_click": -40, "n_error": 180, "n_purchase": -320,
    "n_signup": -60, "n_view": -25,
}


_CHURN_BIAS = 1500


_CHURN_THRESHOLD = 0


def _churn_oracle_sql() -> str:
    terms = " + ".join(
        f"({w}) * CAST(count(CASE WHEN event_type = '{t[2:]}' THEN 1 END) "
        "AS BIGINT)"
        for t, w in _CHURN_WEIGHTS.items()
    )
    return (
        f"WITH scored AS (SELECT user_id, {_CHURN_BIAS} + {terms} AS logit "
        "FROM events GROUP BY user_id) "
        "SELECT CAST(count(*) AS BIGINT) AS n_users, "
        f"CAST(sum(CASE WHEN logit > {_CHURN_THRESHOLD} THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_flagged, "
        f"CAST(sum(CASE WHEN logit > {_CHURN_THRESHOLD} THEN user_id ELSE 0 "
        "END) AS BIGINT) AS flagged_id_sum, "
        "CAST(sum(logit) AS BIGINT) AS logit_sum, "
        "CAST(min(logit) AS BIGINT) AS min_logit, "
        "CAST(max(logit) AS BIGINT) AS max_logit FROM scored"
    )


@query("events_churn_batch_scoring", oracle=_churn_oracle_sql())
def events_churn_batch_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference — the serving-side counterpart of the
    feature-store export (events_user_feature_vectors): a frozen linear
    churn model on the milli-integer grid (the quantized form deployed
    models actually ship) scores every user in one pass — integer
    logit = bias + w·features, flag = logit > 0 — and the graded row
    pins the score DISTRIBUTION (population, flags, flagged-id sum,
    logit sum and range), so a single wrong weight, feature, or
    overflow moves the hash.

    Scale: scoring is a keyed partial aggregate + a scalar expression —
    no shuffle beyond the per-user rollup, no Python, and adding a
    feature adds a term, not a pass.  This is the nightly 'score the
    user base' job at 100 TB: one map-side-combined aggregation and a
    threshold.
    """
    ev = _t(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t[2:], 1))
            .cast("bigint")
            .alias(t)
            for t in _CHURN_WEIGHTS
        ]
    )
    logit = F.lit(_CHURN_BIAS).cast("bigint")
    for t, w in _CHURN_WEIGHTS.items():
        logit = logit + F.lit(w).cast("bigint") * F.col(t)
    scored = feats.select("user_id", logit.alias("logit"))
    flagged = F.col("logit") > _CHURN_THRESHOLD
    return scored.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(flagged.cast("int")).cast("bigint").alias("n_flagged"),
        F.sum(F.when(flagged, F.col("user_id")).otherwise(0))
        .cast("bigint")
        .alias("flagged_id_sum"),
        F.sum("logit").cast("bigint").alias("logit_sum"),
        F.min("logit").cast("bigint").alias("min_logit"),
        F.max("logit").cast("bigint").alias("max_logit"),
    )


@query(
    "events_keyset_pagination",
    oracle=(
        "WITH page AS (SELECT event_id, user_id, event_type, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch FROM events "
        "WHERE (CAST(floor(epoch(ts)) AS BIGINT), event_id) > "
        "(SELECT (CAST(floor(epoch(ts)) AS BIGINT), event_id) FROM events "
        "ORDER BY ts, event_id LIMIT 1 OFFSET 199) "
        "ORDER BY ts_epoch, event_id LIMIT 100) "
        "SELECT * FROM page ORDER BY ts_epoch, event_id"
    ),
)
def events_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination — the serving pattern that makes deep
    pagination O(page) instead of O(offset): the cursor is the LAST KEY
    of the previous page (here: the 200th event in (ts, event_id)
    order, fetched by a one-row probe), and the next page is ``WHERE
    key > cursor ORDER BY key LIMIT 100`` — a pushed-down range filter
    + per-partition top-k, never a global skip-scan.  The (ts,
    event_id) key is total, so pages are deterministic; timestamps
    surface as epoch BIGINTs per the repo's cross-engine rule.

    Scale: OFFSET pagination at 100 TB reads and discards the offset
    every page; the keyset filter reaches the parquet scan (min/max
    row-group pruning on ts) and TakeOrderedAndProject keeps only 100
    rows per partition.  The one-row cursor probe is itself a
    TakeOrdered — the same plan a serving layer would cache.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
    )
    cursor = (
        ev.orderBy(F.asc("ts_epoch"), F.asc("event_id"))
        .limit(200)
        .orderBy(F.desc("ts_epoch"), F.desc("event_id"))
        .limit(1)
        .head()
    )
    c_ts, c_id = int(cursor["ts_epoch"]), int(cursor["event_id"])
    raw = _t(spark, sf_dir, "events")
    return (
        raw
        # conservative RAW-column bound (epoch(ts) >= c_ts implies
        # ts >= second-start) — this is the predicate that reaches the
        # parquet scan for row-group min/max pruning; the exact keyset
        # condition below finishes the job on the epoch grid
        .where(F.col("ts") >= F.timestamp_seconds(F.lit(c_ts)))
        .select(
            "event_id", "user_id", "event_type",
            F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        )
        .where(
            (F.col("ts_epoch") > c_ts)
            | ((F.col("ts_epoch") == c_ts) & (F.col("event_id") > c_id))
        )
        .orderBy(F.asc("ts_epoch"), F.asc("event_id"))
        .limit(100)
        .select("event_id", "user_id", "event_type", "ts_epoch")
    )


# Welch's t-test, shared expression strings: both engines evaluate the
# IDENTICAL formula shape over exact-integer moments, so every double op
# is a single correctly-rounded IEEE step on identical inputs.  Values
# quantize to cents BEFORE any moment (the statistic is defined on the
# quantized stream): cents keep q = sum(vc^2) < 2^53, so all three
# moments per arm are exact BIGINTs that convert to doubles losslessly.
_W_MA = "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))"
_W_MB = "(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
_W_VA = (
    "((CAST(qa AS DOUBLE) - (CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) "
    "/ CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0))"
)
_W_VB = (
    "((CAST(qb AS DOUBLE) - (CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) "
    "/ CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0))"
)
_W_SEA = f"({_W_VA} / CAST(na AS DOUBLE))"
_W_SEB = f"({_W_VB} / CAST(nb AS DOUBLE))"
_W_SE2 = f"({_W_SEA} + {_W_SEB})"
_W_T = f"(({_W_MA} - {_W_MB}) / sqrt({_W_SE2}))"
_W_DF = (
    f"(({_W_SE2} * {_W_SE2}) / "
    f"(({_W_SEA} * {_W_SEA}) / (CAST(na AS DOUBLE) - 1.0) + "
    f"({_W_SEB} * {_W_SEB}) / (CAST(nb AS DOUBLE) - 1.0)))"
)
_W_MOMENTS = (
    "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS na",
    "CAST(sum(CASE WHEN event_type = 'purchase' THEN vc ELSE 0 END) AS BIGINT) AS sa",
    "CAST(sum(CASE WHEN event_type = 'purchase' THEN vc * vc ELSE 0 END) AS BIGINT) AS qa",
    "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nb",
    "CAST(sum(CASE WHEN event_type = 'click' THEN vc ELSE 0 END) AS BIGINT) AS sb",
    "CAST(sum(CASE WHEN event_type = 'click' THEN vc * vc ELSE 0 END) AS BIGINT) AS qb",
)
_W_OUT = (
    "na AS n_purchase",
    "nb AS n_click",
    f"round(({_W_MA} - {_W_MB}) * 1000000) / 1000000 AS mean_diff_cents",
    f"round({_W_T} * 1000000) / 1000000 AS t_stat",
    f"round({_W_DF} * 1000) / 1000 AS df_welch",
    f"CAST(CASE WHEN abs({_W_T}) > 1.959964 THEN 1 ELSE 0 END AS BIGINT) "
    "AS significant_95",
)


@query(
    "events_ab_welch_ttest",
    oracle=(
        "WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc "
        "FROM events WHERE event_type IN ('purchase', 'click')), "
        "m AS (SELECT " + ", ".join(_W_MOMENTS) + " FROM v) "
        "SELECT " + ", ".join(_W_OUT) + " FROM m"
    ),
)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the purchase and click
    arms' event values — the experiment-analysis primitive (two-sample
    mean comparison with Welch–Satterthwaite degrees of freedom, the
    default over Student's t since variances are never equal in the
    wild).  Both engines evaluate the SAME formula strings over exact
    integer moments (n, sum, sum-of-squares in cents), so t and df are
    bit-identical before the output rounding.

    Scale: one filtered scan feeding a 6-counter conditional partial
    aggregate — the classic map-side-combine shape; exactly one 6-col
    row crosses the exchange per upstream partition, and the t/df math
    runs once on the driver-side single row.  The same moment triple
    extends to any number of arms or strata (GROUP BY arm) without
    changing the shuffle shape.
    """
    ev = _t(spark, sf_dir, "events")
    v = ev.where(F.col("event_type").isin("purchase", "click")).selectExpr(
        "event_type", "CAST(round(value * 100) AS BIGINT) AS vc"
    )
    m = v.selectExpr(*_W_MOMENTS)
    return m.selectExpr(*_W_OUT)


def _ewma_exprs(intdiv: str, over: str = "w") -> tuple[str, str, list[str]]:
    """(num, den, lag-exprs) for the binary-weight EWMA kernel.

    Weights are w_j = 2^-j over the 8 PRIOR events, evaluated in pure
    integer arithmetic: term_j = (v_{i-j} * 1024) intdiv 2^j, den_j =
    2^(10-j) when the lag exists — truncating integer division is
    identical in both engines for non-negative operands, so the whole
    statistic is bit-free of floats.  ``over`` is the window reference:
    a named WINDOW for the oracle, an inline spec for Spark selectExpr
    (which has no WINDOW clause).
    """
    num, den, lags = [], [], []
    for j in range(1, 9):
        num.append(
            f"CASE WHEN lag{j} IS NOT NULL THEN (lag{j} * 1024) "
            f"{intdiv} {1 << j} ELSE 0 END"
        )
        den.append(f"CASE WHEN lag{j} IS NOT NULL THEN {1 << (10 - j)} ELSE 0 END")
        lags.append(f"lag(vc, {j}) OVER {over} AS lag{j}")
    return " + ".join(num), " + ".join(den), lags


def _ewma_oracle_sql() -> str:
    num, den, lags = _ewma_exprs("//")
    return (
        "WITH v AS (SELECT user_id, event_id, ts, "
        "CAST(round(value * 100) AS BIGINT) AS vc FROM events), "
        "l AS (SELECT user_id, "
        "row_number() OVER w AS seq, vc, " + ", ".join(lags) + " FROM v "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        f"s AS (SELECT user_id, seq, vc, ({num}) AS num, ({den}) AS den "
        "FROM l WHERE lag3 IS NOT NULL) "
        "SELECT user_id, CAST(seq AS BIGINT) AS seq, vc AS v_cents, "
        "CAST(num AS BIGINT) AS ewma_num, CAST(den AS BIGINT) AS ewma_den, "
        "(vc * den * 1000) // num AS ratio_x1000 "
        "FROM s ORDER BY ratio_x1000 DESC, user_id ASC, seq ASC LIMIT 15"
    )


@query("events_ewma_anomaly", oracle=_ewma_oracle_sql())
def events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA spike detection over per-user event streams (the classic
    monitoring primitive: compare each value to an exponentially-
    weighted mean of its recent history): the smoothing kernel uses
    BINARY weights 2^-j over the 8 prior events so the whole recurrence
    collapses to integer shifts — no float accumulates across rows, so
    Spark and DuckDB agree bit-for-bit.  Graded output: the 15 largest
    value-to-EWMA ratios (x1000) among events with >= 3 priors.

    Scale: one keyed window (PARTITION BY user_id) — per-user history
    is bounded, the 8 lags are a single window-frame pass, and the
    top-15 is TakeOrderedAndProject; no self-join, no global sort.
    The binary kernel is the point at 100 TB: a true recursive EWMA
    needs an ordered sequential scan per key, while the truncated
    2^-j kernel (error < 2^-8 of the weight mass) is a fixed-width
    window expression inside whole-stage codegen.
    """
    spec = "(PARTITION BY user_id ORDER BY ts, event_id)"
    num, den, lags = _ewma_exprs("div", over=spec)
    ev = _t(spark, sf_dir, "events")
    v = ev.selectExpr(
        "user_id", "event_id", "ts", "CAST(round(value * 100) AS BIGINT) AS vc"
    )
    l = v.selectExpr(
        "user_id",
        f"row_number() OVER {spec} AS seq",
        "vc",
        *lags,
    ).where("lag3 IS NOT NULL")
    return (
        l.selectExpr(
            "user_id", "seq", "vc", f"({num}) AS num", f"({den}) AS den"
        )
        .selectExpr(
            "user_id",
            "CAST(seq AS BIGINT) AS seq",
            "vc AS v_cents",
            "CAST(num AS BIGINT) AS ewma_num",
            "CAST(den AS BIGINT) AS ewma_den",
            "(vc * den * 1000) div num AS ratio_x1000",
        )
        .orderBy(F.desc("ratio_x1000"), F.asc("user_id"), F.asc("seq"))
        .limit(15)
    )


# CUPED shared formula strings (same exact-integer-moments discipline as
# the Welch block above): user pre/post totals quantize to DOLLARS so
# every second moment stays < 2^53 (exact in BIGINT and in the one
# double conversion); theta and the variance-reduction ratio are the
# only double ops, identical formula shape in both engines.
_CU_TH_NUM = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
_CU_TH_DEN = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_CU_VY = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
_CU_THETA = f"({_CU_TH_NUM} / {_CU_TH_DEN})"
_CU_OUT = (
    "CAST(n AS BIGINT) AS n_users",
    f"round({_CU_THETA} * 1000000) / 1000000 AS theta_micro",
    # fraction of post-variance removed by the covariate = rho^2
    f"CAST(CASE WHEN {_CU_TH_DEN} = 0.0 OR {_CU_VY} = 0.0 THEN NULL ELSE "
    f"round((({_CU_TH_NUM} * {_CU_TH_NUM}) / ({_CU_TH_DEN} * {_CU_VY})) "
    "* 10000) END AS BIGINT) AS var_reduction_bp",
)
_CU_MOMENTS = (
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(sum(pre_d) AS BIGINT) AS sx",
    "CAST(sum(post_d) AS BIGINT) AS sy",
    "CAST(sum(pre_d * post_d) AS BIGINT) AS sxy",
    "CAST(sum(pre_d * pre_d) AS BIGINT) AS sxx",
    "CAST(sum(post_d * post_d) AS BIGINT) AS syy",
)


def _cuped_oracle_sql() -> str:
    return (
        "WITH b AS (SELECT CAST(min(epoch(ts)) AS BIGINT) AS lo, "
        "CAST(max(epoch(ts)) AS BIGINT) AS hi FROM events), "
        "u AS (SELECT user_id, "
        "CAST(sum(CASE WHEN 2 * CAST(epoch(ts) AS BIGINT) <= b.lo + b.hi "
        "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS pre_c, "
        "CAST(sum(CASE WHEN 2 * CAST(epoch(ts) AS BIGINT) > b.lo + b.hi "
        "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS post_c "
        "FROM events, b GROUP BY user_id), "
        "d AS (SELECT (pre_c + 50) // 100 AS pre_d, (post_c + 50) // 100 "
        "AS post_d FROM u), "
        "m AS (SELECT " + ", ".join(_CU_MOMENTS) + " FROM d) "
        "SELECT " + ", ".join(_CU_OUT) + " FROM m"
    )


@query("events_cuped_adjustment", oracle=_cuped_oracle_sql())
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, the standard
    experimentation-platform trick): per-user spend in the first half
    of the observation window (the pre-period covariate X) predicts
    the second half (the metric Y); theta = cov(X,Y)/var(X) and the
    graded var_reduction_bp = rho^2 in basis points quantify how much
    experiment variance the covariate removes.  All moments are exact
    integer dollars; theta and rho^2 are single shared-string double
    expressions, so both engines agree bit-for-bit.

    Scale: one scan -> per-user conditional partial aggregate (the
    split point is a broadcast 1-row min/max epoch) -> one 6-counter
    global rollup; the same shape stratifies by experiment arm with a
    GROUP BY, never changing the shuffle structure.
    """
    ev = _t(spark, sf_dir, "events")
    b = ev.selectExpr(
        "CAST(min(unix_timestamp(ts)) AS BIGINT) AS lo",
        "CAST(max(unix_timestamp(ts)) AS BIGINT) AS hi",
    )
    u = (
        ev.crossJoin(F.broadcast(b))
        .selectExpr(
            "user_id",
            "lo",
            "hi",
            "CAST(unix_timestamp(ts) AS BIGINT) AS ep",
            "CAST(round(value * 100) AS BIGINT) AS vc",
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN 2 * ep <= lo + hi THEN vc ELSE 0 END) "
                "AS BIGINT)"
            ).alias("pre_c"),
            F.expr(
                "CAST(sum(CASE WHEN 2 * ep > lo + hi THEN vc ELSE 0 END) "
                "AS BIGINT)"
            ).alias("post_c"),
        )
    )
    d = u.selectExpr(
        "(pre_c + 50) div 100 AS pre_d", "(post_c + 50) div 100 AS post_d"
    )
    return d.selectExpr(*_CU_MOMENTS).selectExpr(*_CU_OUT)


# ---------------------------------------------------------------------------
# Mergeable-sketch family, exact-deterministic edition: KMV bottom-k and
# AMS F2 share the md5 digest convention (the only hash both engines
# implement identically), so unlike HLL — whose estimates are
# implementation-specific and graded as a tolerance CONTRACT — every
# column here is a plain integer both engines must reproduce bit-for-bit.

_KMV_K = 64
_KMV_DOMAIN = 16**12  # 12-hex-char digest prefix = 2^48 hash space
# A user-day element keyed on the md5 of "user@dayofmonth": every-user-
# hits-every-type in the synthetic corpus, so raw user-id sets would make
# every Jaccard exactly 1.0; user-day activity sets actually differ.
_UDAY_MD5 = "md5(CAST(user_id AS STRING) || '@' || CAST(day(ts) AS STRING))"


def _kmv_oracle_sql() -> str:
    k, m = _KMV_K, _KMV_DOMAIN
    return (
        "WITH base AS (SELECT DISTINCT event_type, "
        "('0x' || substr(md5(user_id::VARCHAR || '@' || day(ts)::VARCHAR), "
        "1, 12))::BIGINT AS hv "
        "FROM events WHERE event_type IN ('click', 'purchase')), "
        "rk AS (SELECT event_type, hv, row_number() OVER "
        "(PARTITION BY event_type ORDER BY hv) AS rn FROM base), "
        f"sk AS (SELECT event_type, hv FROM rk WHERE rn <= {k}), "
        "per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, "
        "max(hv) AS kth FROM sk GROUP BY event_type), "
        f"est AS (SELECT event_type, CASE WHEN cnt < {k} THEN cnt "
        f"ELSE ({k - 1} * {m}::BIGINT) // kth END AS est FROM per), "
        "pv AS (SELECT CAST(coalesce(max(CASE WHEN event_type = 'click' "
        "THEN est END), 0) AS BIGINT) AS kmv_est_click, "
        "CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN est END), "
        "0) AS BIGINT) AS kmv_est_purchase FROM est), "
        "ex AS (SELECT CAST(count(CASE WHEN event_type = 'click' THEN 1 END) "
        "AS BIGINT) AS exact_click, "
        "CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) "
        "AS exact_purchase FROM base), "
        "iv AS (SELECT CAST(count(*) AS BIGINT) AS inter FROM "
        "(SELECT hv FROM base GROUP BY hv HAVING count(*) = 2)), "
        "uk AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) "
        f"AS rn FROM (SELECT DISTINCT hv FROM sk)) WHERE rn <= {k}), "
        "ux AS (SELECT CAST(count(*) AS BIGINT) AS u_cnt, "
        "CAST(count(CASE WHEN ina = 1 AND inb = 1 THEN 1 END) AS BIGINT) "
        "AS x FROM (SELECT u.hv, "
        "max(CASE WHEN s.event_type = 'click' THEN 1 ELSE 0 END) AS ina, "
        "max(CASE WHEN s.event_type = 'purchase' THEN 1 ELSE 0 END) AS inb "
        "FROM uk u JOIN sk s ON u.hv = s.hv GROUP BY u.hv)) "
        f"SELECT CAST({k} AS INTEGER) AS k, exact_click, exact_purchase, "
        "kmv_est_click, kmv_est_purchase, "
        "CAST(CASE WHEN exact_click + exact_purchase - inter > 0 THEN "
        "(1000 * inter) // (exact_click + exact_purchase - inter) "
        "ELSE 0 END AS BIGINT) AS exact_jaccard_permille, "
        "CAST(CASE WHEN u_cnt > 0 THEN (1000 * x) // u_cnt ELSE 0 END "
        "AS BIGINT) AS kmv_jaccard_permille "
        "FROM ex, iv, pv, ux"
    )


@query("events_kmv_distinct_jaccard", oracle=_kmv_oracle_sql())
def events_kmv_distinct_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch with set
    resemblance (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07): per
    event type, keep the 64 smallest md5 user-day digests; the k-th
    minimum estimates distinct cardinality as (k-1)*M/h_(k), and the
    bottom-k of the UNION — the KMV merge, which is how these sketches
    compose across shards — estimates Jaccard as the fraction of union-
    sketch members present in both sides.  Unlike HLL, md5 makes every
    number here engine-portable, so the estimates themselves (not a
    tolerance contract) are value-hashed, alongside the exact counts.

    Scale: the candidate set is first cut to distinct (type, digest)
    pairs by a map-side-combining dedup, then bottom-k is TWO-LEVEL —
    per (type, digest mod 8) partial top-k, then final top-k over the
    <=8k survivors — so no sort partition ever exceeds k rows times the
    salt fan-in, regardless of corpus size (the single-level sort the
    oracle runs would be a per-type global sort at 100 TB).  Everything
    after the sketches is <=128-row arithmetic.
    """
    ev = _t(spark, sf_dir, "events")
    k = _KMV_K
    base = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.conv(F.substring(F.expr(_UDAY_MD5), 1, 12), 16, 10)
            .cast("bigint")
            .alias("hv"),
        )
        .distinct()
    )
    lvl1 = (
        base.withColumn("salt", F.col("hv") % 8)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type", "salt").orderBy("hv")
            ),
        )
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    sk = (
        lvl1.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("event_type").orderBy("hv")),
        )
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    per = sk.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("cnt"), F.max("hv").alias("kth")
    )
    est = per.selectExpr(
        "event_type",
        f"CASE WHEN cnt < {k} THEN cnt "
        f"ELSE CAST({k - 1} AS BIGINT) * {_KMV_DOMAIN} div kth END AS est",
    )
    pv = est.agg(
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'click' THEN est END), "
            "0) AS BIGINT)"
        ).alias("kmv_est_click"),
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN est "
            "END), 0) AS BIGINT)"
        ).alias("kmv_est_purchase"),
    )
    ex = base.agg(
        F.expr(
            "CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)"
        ).alias("exact_click"),
        F.expr(
            "CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) "
            "AS BIGINT)"
        ).alias("exact_purchase"),
    )
    iv = (
        base.groupBy("hv")
        .agg(F.count("*").alias("nt"))
        .filter("nt = 2")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    uk = (
        sk.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("hv")))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    ux = (
        uk.join(sk, "hv")
        .groupBy("hv")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "ina"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("inb"),
        )
        .agg(
            F.count("*").cast("bigint").alias("u_cnt"),
            F.expr(
                "CAST(count(CASE WHEN ina = 1 AND inb = 1 THEN 1 END) "
                "AS BIGINT)"
            ).alias("x"),
        )
    )
    return (
        ex.crossJoin(F.broadcast(iv))
        .crossJoin(F.broadcast(pv))
        .crossJoin(F.broadcast(ux))
        .selectExpr(
            f"CAST({k} AS INTEGER) AS k",
            "exact_click",
            "exact_purchase",
            "kmv_est_click",
            "kmv_est_purchase",
            "CAST(CASE WHEN exact_click + exact_purchase - inter > 0 THEN "
            "(1000 * inter) div (exact_click + exact_purchase - inter) "
            "ELSE 0 END AS BIGINT) AS exact_jaccard_permille",
            "CAST(CASE WHEN u_cnt > 0 THEN (1000 * x) div u_cnt ELSE 0 END "
            "AS BIGINT) AS kmv_jaccard_permille",
        )
    )


def _ams_oracle_sql() -> str:
    return (
        "WITH cu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c "
        "FROM events GROUP BY user_id), "
        "sj AS (SELECT g.j, cu.c, "
        "CASE WHEN ('0x' || substr(md5(g.j::VARCHAR || '#' || "
        "cu.user_id::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END "
        "AS s FROM cu, generate_series(0, 15) g(j)), "
        "px AS (SELECT j, CAST(sum(s * c) AS BIGINT) AS x "
        "FROM sj GROUP BY j), "
        "e AS (SELECT CAST(x * x AS BIGINT) AS e FROM px), "
        "m AS (SELECT CAST(sum(e) AS BIGINT) // 16 AS mean_e, "
        "CAST(min(e) AS BIGINT) AS mn, CAST(max(e) AS BIGINT) AS mx FROM e), "
        "ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2 FROM cu) "
        "SELECT CAST(16 AS INTEGER) AS n_estimators, f2 AS exact_f2, "
        "mean_e AS ams_mean_f2, mn AS ams_min_f2, mx AS ams_max_f2, "
        "CAST(CASE WHEN f2 > 0 THEN (1000 * abs(mean_e - f2)) // f2 "
        "ELSE 0 END AS BIGINT) AS err_permille "
        "FROM ex, m"
    )


@query("events_ams_f2_moment", oracle=_ams_oracle_sql())
def events_ams_f2_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon, Matias & Szegedy,
    STOC'96): F2 = sum over users of (event count)^2 — the self-join
    size, the statistic behind join-cardinality and repeat-rate
    estimation — estimated by 16 independent +/-1 projections: each
    estimator draws a deterministic sign per user from one md5 hex
    nibble of "seed#user", sums sign*count, and squares the total.
    md5 determinism makes every estimator value engine-portable, so
    the mean/min/max of the 16 estimators (and the exact F2 they
    estimate) are value-hashed directly, not tolerance-gated.

    Scale: one keyed per-user partial aggregate (the same shuffle the
    exact F2 needs anyway), then a broadcast 16-row seed panel fans the
    |users| table into 16 sign-sums that combine map-side — the sketch
    state is 16 integers no matter the corpus, which is the point: at
    100 TB each shard ships 16 numbers, and estimator sums merge by
    addition.
    """
    ev = _t(spark, sf_dir, "events")
    cu = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("c"))
    seeds = spark.range(16).select(F.col("id").alias("j"))
    px = (
        cu.crossJoin(F.broadcast(seeds))
        .withColumn(
            "s",
            F.expr(
                "CASE WHEN CAST(conv(substring(md5(CAST(j AS STRING) || '#' "
                "|| CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT) % 2 "
                "= 0 THEN 1 ELSE -1 END"
            ),
        )
        .groupBy("j")
        .agg(F.expr("CAST(sum(s * c) AS BIGINT)").alias("x"))
    )
    m = px.select(F.expr("CAST(x * x AS BIGINT)").alias("e")).agg(
        F.expr("CAST(sum(e) AS BIGINT) div 16").alias("mean_e"),
        F.expr("CAST(min(e) AS BIGINT)").alias("mn"),
        F.expr("CAST(max(e) AS BIGINT)").alias("mx"),
    )
    ex = cu.agg(F.expr("CAST(sum(c * c) AS BIGINT)").alias("f2"))
    return ex.crossJoin(F.broadcast(m)).selectExpr(
        "CAST(16 AS INTEGER) AS n_estimators",
        "f2 AS exact_f2",
        "mean_e AS ams_mean_f2",
        "mn AS ams_min_f2",
        "mx AS ams_max_f2",
        "CAST(CASE WHEN f2 > 0 THEN (1000 * abs(mean_e - f2)) div f2 "
        "ELSE 0 END AS BIGINT) AS err_permille",
    )


def _kendall_exprs(intdiv: str) -> tuple[str, str]:
    """Shared tau-b arithmetic; only the integer-division spelling
    differs between engines (Spark ``div``, DuckDB ``//``).  The double
    expression is a single shared string over exact integer pair
    counts, so IEEE sqrt/divide make both engines agree bit-for-bit."""
    n0 = f"((n_days * (n_days - 1)) {intdiv} 2)"
    guard = f"{n0} - ties_x > 0 AND {n0} - ties_y > 0"
    tau = (
        "CAST(round((1000.0 * (concordant - discordant)) / "
        f"sqrt(CAST({n0} - ties_x AS DOUBLE) * "
        f"CAST({n0} - ties_y AS DOUBLE))) AS BIGINT)"
    )
    return guard, tau


def _kendall_oracle_sql() -> str:
    guard, tau = _kendall_exprs("//")
    return (
        "WITH d AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) "
        "// 86400 AS dd, "
        "CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) "
        "AS x, "
        "CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) "
        "AS y FROM events GROUP BY 1), "
        "p AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2 "
        "FROM d a JOIN d b ON a.dd < b.dd), "
        "s AS (SELECT "
        "CAST(count(CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1 END) "
        "AS BIGINT) AS concordant, "
        "CAST(count(CASE WHEN (x1 - x2) * (y1 - y2) < 0 THEN 1 END) "
        "AS BIGINT) AS discordant, "
        "CAST(count(CASE WHEN x1 = x2 THEN 1 END) AS BIGINT) AS ties_x, "
        "CAST(count(CASE WHEN y1 = y2 THEN 1 END) AS BIGINT) AS ties_y "
        "FROM p), "
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d) "
        "SELECT n_days, concordant, discordant, ties_x, ties_y, "
        f"CAST(CASE WHEN {guard} THEN {tau} ELSE 0 END AS BIGINT) "
        "AS tau_b_permille FROM s, n"
    )


@query("events_kendall_tau_daily", oracle=_kendall_oracle_sql())
def events_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (Kendall 1945, the tie-adjusted
    form) between the daily click and purchase volumes: every day-pair
    is classified concordant / discordant / tied, and tau-b =
    (C - D) / sqrt((n0 - t_x)(n0 - t_y)) — the nonparametric
    complement to the catalog's Spearman (docs_spearman_chars_tokens),
    robust to the heavy ties integer daily counts produce, where
    Pearson-on-ranks misleads.

    Scale: the O(n^2) pairing runs on the DAILY PROFILE, not events —
    the raw table collapses to one row per day in a single conditional
    keyed aggregate, and the ~30x30 self-pairing of that profile is a
    broadcast join of a fixed-size table (a year is 66k pairs; the
    profile stays metadata-sized no matter how many trillion events
    fold into it).  Pair counts are exact integers; only the final
    scalar tau is a (shared-string) double.
    """
    guard, tau = _kendall_exprs("div")
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.selectExpr(
            "CAST(unix_timestamp(date_trunc('DAY', ts)) AS BIGINT) div 86400 "
            "AS dd",
            "event_type",
        )
        .groupBy("dd")
        .agg(
            F.expr(
                "CAST(count(CASE WHEN event_type = 'click' THEN 1 END) "
                "AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) "
                "AS BIGINT)"
            ).alias("y"),
        )
    )
    a = d.alias("a")
    b = d.alias("b")
    p = a.join(F.broadcast(b), F.col("a.dd") < F.col("b.dd")).select(
        F.col("a.x").alias("x1"),
        F.col("a.y").alias("y1"),
        F.col("b.x").alias("x2"),
        F.col("b.y").alias("y2"),
    )
    s = p.agg(
        F.expr(
            "CAST(count(CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1 END) "
            "AS BIGINT)"
        ).alias("concordant"),
        F.expr(
            "CAST(count(CASE WHEN (x1 - x2) * (y1 - y2) < 0 THEN 1 END) "
            "AS BIGINT)"
        ).alias("discordant"),
        F.expr("CAST(count(CASE WHEN x1 = x2 THEN 1 END) AS BIGINT)").alias(
            "ties_x"
        ),
        F.expr("CAST(count(CASE WHEN y1 = y2 THEN 1 END) AS BIGINT)").alias(
            "ties_y"
        ),
    )
    n = d.agg(F.count("*").cast("bigint").alias("n_days"))
    return s.crossJoin(F.broadcast(n)).selectExpr(
        "n_days",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        f"CAST(CASE WHEN {guard} THEN {tau} ELSE 0 END AS BIGINT) "
        "AS tau_b_permille",
    )


def _bitmap_oracle_sql() -> str:
    return (
        "WITH base AS (SELECT event_type, user_id * 32 + (day(ts) - 1) "
        "AS uday FROM events WHERE event_type IN ('click', 'purchase')), "
        "wt AS (SELECT event_type, uday // 60 AS word, "
        "bit_or(1::BIGINT << CAST(uday % 60 AS INTEGER)) AS w "
        "FROM base GROUP BY event_type, uday // 60), "
        "pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_words, "
        "CAST(sum(bit_count(w)) AS BIGINT) AS bm FROM wt "
        "GROUP BY event_type), "
        "ex AS (SELECT event_type, CAST(count(DISTINCT uday) AS BIGINT) "
        "AS exact_ud FROM base GROUP BY event_type), "
        "iv AS (SELECT CAST(coalesce(sum(bit_count(a.w & b.w)), 0) "
        "AS BIGINT) AS inter FROM "
        "(SELECT word, w FROM wt WHERE event_type = 'click') a JOIN "
        "(SELECT word, w FROM wt WHERE event_type = 'purchase') b "
        "ON a.word = b.word), "
        "pv AS (SELECT "
        "CAST(coalesce(max(CASE WHEN pt.event_type = 'click' THEN n_words "
        "END), 0) AS BIGINT) AS n_words_click, "
        "CAST(coalesce(max(CASE WHEN pt.event_type = 'purchase' THEN "
        "n_words END), 0) AS BIGINT) AS n_words_purchase, "
        "CAST(coalesce(max(CASE WHEN pt.event_type = 'click' THEN bm END), "
        "0) AS BIGINT) AS bitmap_click_userdays, "
        "CAST(coalesce(max(CASE WHEN pt.event_type = 'purchase' THEN bm "
        "END), 0) AS BIGINT) AS bitmap_purchase_userdays FROM pt), "
        "pe AS (SELECT "
        "CAST(coalesce(max(CASE WHEN event_type = 'click' THEN exact_ud "
        "END), 0) AS BIGINT) AS exact_click_userdays, "
        "CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN exact_ud "
        "END), 0) AS BIGINT) AS exact_purchase_userdays FROM ex) "
        "SELECT n_words_click, n_words_purchase, bitmap_click_userdays, "
        "bitmap_purchase_userdays, exact_click_userdays, "
        "exact_purchase_userdays, inter AS inter_userdays, "
        "bitmap_click_userdays + bitmap_purchase_userdays - inter "
        "AS union_userdays, "
        "CAST(CASE WHEN bitmap_click_userdays + bitmap_purchase_userdays "
        "- inter > 0 THEN (1000 * inter) // (bitmap_click_userdays + "
        "bitmap_purchase_userdays - inter) ELSE 0 END AS BIGINT) "
        "AS jaccard_permille "
        "FROM pv, pe, iv"
    )


@query("events_bitmap_distinct_rollup", oracle=_bitmap_oracle_sql())
def events_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-bitmap EXACT distinct counting (the Roaring/groupBitmap
    pattern of ClickHouse and Druid; Chambi et al. 2016): user-day
    elements map to (word = id div 60, bit = id mod 60), each (type,
    word) group ORs its bits into one 60-bit BIGINT lane, and distinct
    = sum of popcounts — set ALGEBRA without materializing sets:
    intersection is a word-keyed join with AND+popcount, union is
    inclusion-exclusion, giving the exact Jaccard the KMV sketch
    (events_kmv_distinct_jaccard) only estimates.  The exact
    count-distinct rides along and must equal the bitmap count — the
    graded proof the encoding is lossless.  60 bits per lane keeps the
    sign bit (and engine-specific >>63 behavior) out of play.

    Scale: bit_or and popcount-sum both combine map-side, so the
    shuffled state is |active words| BIGINTs — a 64x compression of
    the id space — and bitmap words merge across shards by OR, which
    is how a 1000-executor rollup composes; the word-keyed
    intersection join never touches raw ids.
    """
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type").isin("click", "purchase")).selectExpr(
        "event_type", "user_id * 32 + (day(ts) - 1) AS uday"
    )
    wt = (
        base.selectExpr(
            "event_type", "uday div 60 AS word", "CAST(uday % 60 AS INT) AS bit"
        )
        .groupBy("event_type", "word")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("w")
        )
    )
    pt = wt.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.expr("CAST(sum(bit_count(w)) AS BIGINT)").alias("bm"),
    )
    ex = base.groupBy("event_type").agg(
        F.countDistinct("uday").cast("bigint").alias("exact_ud")
    )
    iv = (
        wt.filter("event_type = 'click'")
        .select("word", F.col("w").alias("wa"))
        .join(
            wt.filter("event_type = 'purchase'").select(
                "word", F.col("w").alias("wb")
            ),
            "word",
        )
        .agg(
            F.expr("CAST(coalesce(sum(bit_count(wa & wb)), 0) AS BIGINT)").alias(
                "inter"
            )
        )
    )
    pv = pt.agg(
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'click' THEN n_words "
            "END), 0) AS BIGINT)"
        ).alias("n_words_click"),
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN "
            "n_words END), 0) AS BIGINT)"
        ).alias("n_words_purchase"),
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'click' THEN bm END), "
            "0) AS BIGINT)"
        ).alias("bitmap_click_userdays"),
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN bm "
            "END), 0) AS BIGINT)"
        ).alias("bitmap_purchase_userdays"),
    )
    pe = ex.agg(
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'click' THEN exact_ud "
            "END), 0) AS BIGINT)"
        ).alias("exact_click_userdays"),
        F.expr(
            "CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN "
            "exact_ud END), 0) AS BIGINT)"
        ).alias("exact_purchase_userdays"),
    )
    return (
        pv.crossJoin(F.broadcast(pe))
        .crossJoin(F.broadcast(iv))
        .selectExpr(
            "n_words_click",
            "n_words_purchase",
            "bitmap_click_userdays",
            "bitmap_purchase_userdays",
            "exact_click_userdays",
            "exact_purchase_userdays",
            "inter AS inter_userdays",
            "bitmap_click_userdays + bitmap_purchase_userdays - inter "
            "AS union_userdays",
            "CAST(CASE WHEN bitmap_click_userdays + bitmap_purchase_userdays "
            "- inter > 0 THEN (1000 * inter) div (bitmap_click_userdays + "
            "bitmap_purchase_userdays - inter) ELSE 0 END AS BIGINT) "
            "AS jaccard_permille",
        )
    )


_ARES_K = 32
_ARES_DOMAIN = 16**12  # 48-bit md5-prefix hash space
# u' uniform over [2^20, 2^48): the +2^20 floor keeps the shared mlog2
# chain's seed precondition (x >= 2^20) total, and the modulus keeps
# l1024(u') strictly below 48*1024 so the key stays positive.


def _ares_oracle_sql() -> str:
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _MLOG2_STEPS,
        _mlog2_step_exprs,
    )

    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(
            f"s{i} AS (SELECT event_id, event_type, vc, e, {m}, {f_} "
            f"FROM s{i - 1})"
        )
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    u = (
        f"(('0x' || substr(md5(event_id::VARCHAR), 1, 12))::BIGINT "
        f"% {_ARES_DOMAIN - 1048576}) + 1048576"
    )
    return (
        "WITH base AS (SELECT event_id, event_type, "
        "CAST(round(value * 100) AS BIGINT) + 1 AS vc, "
        f"{u} AS x FROM events), "
        f"s0 AS (SELECT event_id, event_type, vc, {seed} FROM base), "
        + ", ".join(steps)
        + f", ky AS (SELECT event_id, event_type, vc, "
        f"(({48 * 1024} - (e * 1024 + f{_MLOG2_STEPS} - 20480)) << 30) "
        "// vc AS k FROM "
        f"s{_MLOG2_STEPS}), "
        "rk AS (SELECT event_id, event_type, vc, k, row_number() OVER "
        "(ORDER BY k, event_id) AS rnk FROM ky) "
        "SELECT CAST(rnk AS BIGINT) AS rnk, event_id, event_type, "
        f"CAST(vc AS BIGINT) AS weight_cents, CAST(k AS BIGINT) AS key_scaled "
        f"FROM rk WHERE rnk <= {_ARES_K} ORDER BY rnk"
    )


@query("events_weighted_reservoir_sample", oracle=_ares_oracle_sql())
def events_weighted_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted reservoir sample without replacement (Efraimidis &
    Spirakis 2006, A-Res): every event draws a deterministic md5
    uniform u and survives with key (-log2 u) / w — the k smallest
    keys ARE the weighted sample, and because the key is a pure
    function of (event_id, value) the sample is reproducible and
    mergeable across shards (take the k smallest of any union).
    Weights are value-cents + 1; the log runs the shared integer
    mlog2 chain so the keys — and therefore the selected set — are
    bit-identical cross-engine.

    Scale: the A-Res key is map-side arithmetic (no per-value log
    table needed: the chain inlines into the projection), and the
    k-smallest selection is TWO-LEVEL — per (event_id mod 8) salt
    top-k, then final top-k over the <=8k survivors — so no sort
    partition ever exceeds sample size times the salt fan-in,
    identical to the KMV bottom-k shape above.
    """
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _MLOG2_STEPS,
        _mlog2_step_exprs,
    )

    ev = _t(spark, sf_dir, "events")
    k = _ARES_K
    u = (
        f"(CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 12), "
        f"16, 10) AS BIGINT) % {_ARES_DOMAIN - 1048576}) + 1048576"
    )
    base = ev.selectExpr(
        "event_id",
        "event_type",
        "CAST(round(value * 100) AS BIGINT) + 1 AS vc",
        f"{u} AS x",
    )
    s = base.selectExpr("event_id", "event_type", "vc", *_MLOG2_SEED_EXPRS)
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr("event_id", "event_type", "vc", "e", m, f_)
    ky = s.selectExpr(
        "event_id",
        "event_type",
        "vc",
        # CAST before the shift: Spark's << wraps at the operand's
        # 32-bit width on INT inputs, DuckDB promotes to BIGINT
        f"(CAST({48 * 1024} - (e * 1024 + f{_MLOG2_STEPS} - 20480) "
        "AS BIGINT) << 30) div vc AS k",
    )
    lvl1 = (
        ky.withColumn("salt", F.col("event_id") % 8)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("salt").orderBy("k", "event_id")
            ),
        )
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    return (
        lvl1.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy("k", "event_id")),
        )
        .filter(F.col("rnk") <= k)
        .selectExpr(
            "CAST(rnk AS BIGINT) AS rnk",
            "event_id",
            "event_type",
            "CAST(vc AS BIGINT) AS weight_cents",
            "CAST(k AS BIGINT) AS key_scaled",
        )
        .orderBy("rnk")
    )


_ACF_LAGS = (1, 24)


def _autocorr_oracle_sql() -> str:
    legs = " UNION ALL ".join(
        f"SELECT {k} AS lag, CAST(count(*) AS BIGINT) AS n_pairs, "
        "CAST(CASE WHEN d.den = 0 THEN 0 ELSE "
        f"(1000000 * sum(a.y * b.y)) // d.den END AS BIGINT) AS r_micro "
        f"FROM y a JOIN y b ON b.t = a.t + {k} CROSS JOIN den d "
        "GROUP BY d.den"
        for k in _ACF_LAGS
    )
    return (
        "WITH h AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) "
        "// 3600 AS t, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY t), "
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(x) AS BIGINT) AS sx FROM h), "
        "y AS (SELECT t, s.n * x - s.sx AS y FROM h CROSS JOIN s), "
        "den AS (SELECT CAST(sum(y * y) AS BIGINT) AS den FROM y) "
        f"SELECT * FROM ({legs}) ORDER BY lag"
    )


@query("events_hourly_autocorrelation", oracle=_autocorr_oracle_sql())
def events_hourly_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact integer autocorrelation of the hourly event-count series
    at lag 1 (hour-over-hour persistence) and lag 24 (daily
    seasonality) — the periodicity screen run before trusting any
    daily rollup or anomaly threshold.  Mean-centering stays integral
    via y_t = n*x_t - S (n times the centered value), so numerator
    and denominator are exact BIGINT sums and r arrives in micros by
    one truncating division.  Bound: |y| <= n*max(x), so the
    denominator stays under 2^63 out to ~10^7 events/hour on a
    year-long profile; beyond that, quantize x to thousands first.

    Scale: events collapse map-side to the hourly profile (<=8784
    rows/year — metadata-sized at any corpus size); the lagged
    self-join, the centering cross-join, and the final rollup all run
    on that bounded profile.
    """
    ev = _t(spark, sf_dir, "events")
    h = (
        ev.selectExpr(
            "CAST(unix_timestamp(date_trunc('HOUR', ts)) AS BIGINT) "
            "div 3600 AS t"
        )
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    s = h.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    y = h.crossJoin(F.broadcast(s)).selectExpr("t", "n * x - sx AS y")
    den = y.agg(F.sum(F.expr("y * y")).cast("bigint").alias("den"))
    a, b = y.alias("a"), y.alias("b")
    legs = []
    for k in _ACF_LAGS:
        pairs = a.join(b, F.col("b.t") == F.col("a.t") + k).select(
            F.expr("a.y * b.y").alias("yy")
        )
        legs.append(
            pairs.crossJoin(F.broadcast(den)).groupBy("den").agg(
                F.count("*").cast("bigint").alias("n_pairs"),
                F.sum("yy").cast("bigint").alias("num"),
            ).selectExpr(
                f"CAST({k} AS INTEGER) AS lag",
                "n_pairs",
                "CAST(CASE WHEN den = 0 THEN 0 ELSE "
                "(1000000 * num) div den END AS BIGINT) AS r_micro",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("lag")


# Benford first-digit expected frequencies, permille (log10(1 + 1/d)
# rounded to integers; the rounding IS the spec both engines share).
_BENFORD_PERMILLE = (301, 176, 125, 97, 79, 67, 58, 51, 46)


def _benford_oracle_sql() -> str:
    probs = " UNION ALL ".join(
        f"SELECT {d + 1} AS digit, CAST({p} AS BIGINT) AS benford_permille"
        for d, p in enumerate(_BENFORD_PERMILLE)
    )
    return (
        "WITH vc AS (SELECT CAST(round(value * 100) AS BIGINT) AS v "
        "FROM events WHERE CAST(round(value * 100) AS BIGINT) >= 1), "
        "fd AS (SELECT CAST(substr(v::VARCHAR, 1, 1) AS INTEGER) AS digit, "
        "CAST(count(*) AS BIGINT) AS observed FROM vc GROUP BY 1), "
        "n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM fd), "
        f"p AS ({probs}) "
        "SELECT p.digit, n.n AS n_values, "
        "CAST(coalesce(fd.observed, 0) AS BIGINT) AS observed, "
        "CAST((1000 * coalesce(fd.observed, 0)) // n.n AS BIGINT) "
        "AS share_permille, p.benford_permille, "
        "CAST((1000 * coalesce(fd.observed, 0)) // n.n "
        "- p.benford_permille AS BIGINT) AS dev_permille "
        "FROM p LEFT JOIN fd ON fd.digit = p.digit CROSS JOIN n "
        "ORDER BY p.digit"
    )


@query("events_benford_digit_audit", oracle=_benford_oracle_sql())
def events_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of transaction values (Benford
    1938; Nigrini's fraud/data-quality screen): the first significant
    digit of genuine heavy-tailed amounts follows log10(1 + 1/d), and
    a synthetic, truncated, or fabricated value column shows up as a
    flat or spiked digit profile long before any model does.  The
    expected frequencies ship as shared permille constants, so every
    column is an exact integer in both engines.

    Scale: one map-side-combining aggregate to the 9-row digit
    profile; the Benford table is a 9-row literal; everything after
    is arithmetic on those 9 rows.
    """
    ev = _t(spark, sf_dir, "events")
    vc = ev.selectExpr("CAST(round(value * 100) AS BIGINT) AS v").filter(
        F.col("v") >= 1
    )
    fd = (
        vc.selectExpr(
            "CAST(substring(CAST(v AS STRING), 1, 1) AS INTEGER) AS digit"
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("observed"))
    )
    n = fd.agg(F.sum("observed").cast("bigint").alias("n"))
    p = spark.createDataFrame(
        [(d + 1, pmil) for d, pmil in enumerate(_BENFORD_PERMILLE)],
        "digit int, benford_permille bigint",
    )
    return (
        p.join(fd, "digit", "left")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "digit",
            "n AS n_values",
            "CAST(coalesce(observed, 0) AS BIGINT) AS observed",
            "CAST((1000 * coalesce(observed, 0)) div n AS BIGINT) "
            "AS share_permille",
            "benford_permille",
            "CAST((1000 * coalesce(observed, 0)) div n "
            "- benford_permille AS BIGINT) AS dev_permille",
        )
        .orderBy("digit")
    )


def _markov_entropy_oracle_sql() -> str:
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _MLOG2_STEPS,
        _mlog2_step_exprs,
    )

    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"s{i} AS (SELECT d, e, {m}, {f_} FROM s{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        "WITH seq AS (SELECT user_id, event_type, "
        "lead(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS nxt FROM events), "
        "tr AS (SELECT event_type AS prev_type, nxt AS next_type, "
        "CAST(count(*) AS BIGINT) AS n FROM seq WHERE nxt IS NOT NULL "
        "GROUP BY 1, 2), "
        "rowt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from, "
        "CAST(count(*) AS BIGINT) AS n_next FROM tr GROUP BY prev_type), "
        "vals AS (SELECT DISTINCT n AS d FROM tr "
        "UNION SELECT n_from FROM rowt), "
        "dx AS (SELECT d, d << 20 AS x FROM vals), "
        f"s0 AS (SELECT d, {seed} FROM dx), "
        + ", ".join(steps)
        + f", lg AS (SELECT d, (e * 1024 + f{_MLOG2_STEPS}) - 20480 AS l "
        f"FROM s{_MLOG2_STEPS}), "
        "hs AS (SELECT tr.prev_type, "
        "CAST(sum(tr.n * (lf.l - ln.l)) AS BIGINT) AS hnum "
        "FROM tr JOIN rowt ON rowt.prev_type = tr.prev_type "
        "JOIN lg lf ON lf.d = rowt.n_from JOIN lg ln ON ln.d = tr.n "
        "GROUP BY tr.prev_type) "
        "SELECT rowt.prev_type, rowt.n_from, rowt.n_next, "
        "CAST(hs.hnum // rowt.n_from AS BIGINT) AS row_entropy_1024 "
        "FROM rowt JOIN hs ON hs.prev_type = rowt.prev_type "
        "ORDER BY rowt.prev_type"
    )


@query("events_markov_transition_entropy", oracle=_markov_entropy_oracle_sql())
def events_markov_transition_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-state entropy of the first-order Markov transition matrix
    over per-user event-type sequences (H_i = sum_j p_ij log2(1/p_ij))
    — the predictability readout behind session modeling: a state
    whose row entropy collapses means the next action is nearly
    deterministic (a funnel), one near log2(n_types) means the state
    carries no signal.  Logs run the shared integer mlog2 chain on
    the transition-count values, so every row is an exact BIGINT in
    1/1024-bit units.

    Scale: sequences order per-user inside a user-partitioned window
    (the session_paths shape — no global ordering), transitions
    collapse map-side to the <= n_types^2 matrix, and the log chain
    touches only that bounded matrix's distinct count values.
    """
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _MLOG2_STEPS,
        _mlog2_step_exprs,
    )

    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    tr = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev_type"),
            F.col("nxt").alias("next_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rowt = tr.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("n_from"),
        F.count("*").cast("bigint").alias("n_next"),
    )
    vals = (
        tr.select(F.col("n").alias("d"))
        .unionByName(rowt.select(F.col("n_from").alias("d")))
        .distinct()
    )
    s = vals.selectExpr("d", "d << 20 AS x").selectExpr(
        "d", *_MLOG2_SEED_EXPRS
    )
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr("d", "e", m, f_)
    lg = s.selectExpr("d", f"(e * 1024 + f{_MLOG2_STEPS}) - 20480 AS l")
    lf = lg.selectExpr("d AS n_from", "l AS lf_l")
    ln_ = lg.selectExpr("d AS n", "l AS ln_l")
    hs = (
        tr.join(rowt, "prev_type")
        .join(F.broadcast(lf), "n_from")
        .join(F.broadcast(ln_), "n")
        .selectExpr("prev_type", "n * (lf_l - ln_l) AS h")
        .groupBy("prev_type")
        .agg(F.sum("h").cast("bigint").alias("hnum"))
    )
    return (
        rowt.join(hs, "prev_type")
        .selectExpr(
            "prev_type",
            "n_from",
            "n_next",
            "CAST(hnum div n_from AS BIGINT) AS row_entropy_1024",
        )
        .orderBy("prev_type")
    )


@query(
    "events_cusum_changepoint",
    oracle=(
        "WITH d AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) "
        "// 86400 AS dd, CAST(count(*) AS BIGINT) AS x FROM events "
        "GROUP BY dd), "
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(x) AS BIGINT) AS sx FROM d), "
        "y AS (SELECT dd, s.n * x - s.sx AS y FROM d CROSS JOIN s), "
        "p AS (SELECT dd, CAST(sum(y) OVER (ORDER BY dd) AS BIGINT) AS pf "
        "FROM y), "
        "c AS (SELECT dd, pf - min(pf) OVER (ORDER BY dd) AS up, "
        "max(pf) OVER (ORDER BY dd) - pf AS down FROM p) "
        "SELECT dd AS day_num, CAST(up AS BIGINT) AS cusum_up, "
        "CAST(down AS BIGINT) AS cusum_down "
        "FROM c ORDER BY greatest(up, down) DESC, dd LIMIT 5"
    ),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style changepoint scan (after Page 1954) over the daily
    event-count series: with the series centered integrally (y = n*x -
    S, the autocorrelation trick), the drift statistics are up_t = P_t
    - min_{j<=t} P_j and down_t = max_{j<=t} P_j - P_t over the prefix
    sums P — two running extrema instead of a sequential loop, so the
    scan is pure window algebra.  (Definition note: the extremum runs
    over OBSERVED prefixes — the running-drawup/drawdown form — which
    equals zero-seeded Page once the running extremum has crossed zero
    and otherwise differs by the clamp; the relationship is pinned in
    tests/test_round8_stats.py, and both engines grade the identical
    definition.)  The five days with the largest
    drift magnitude are the graded changepoint candidates (ties to the
    earliest day).

    Scale: events collapse map-side to the <=366-row/year daily
    profile; the ordered prefix/extrema windows and the top-5 all run
    on that bounded profile, never on events.
    """
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.selectExpr(
            "CAST(unix_timestamp(date_trunc('DAY', ts)) AS BIGINT) "
            "div 86400 AS dd"
        )
        .groupBy("dd")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    s = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    y = d.crossJoin(F.broadcast(s)).selectExpr("dd", "n * x - sx AS y")
    w = Window.orderBy("dd").rowsBetween(Window.unboundedPreceding, 0)
    p = y.select("dd", F.sum("y").over(w).cast("bigint").alias("pf"))
    c = p.select(
        "dd",
        (F.col("pf") - F.min("pf").over(w)).alias("up"),
        (F.max("pf").over(w) - F.col("pf")).alias("down"),
    )
    return (
        c.selectExpr(
            "dd AS day_num",
            "CAST(up AS BIGINT) AS cusum_up",
            "CAST(down AS BIGINT) AS cusum_down",
        )
        .orderBy(F.desc(F.greatest(F.col("cusum_up"), F.col("cusum_down"))), F.asc("day_num"))
        .limit(5)
    )


_HQ_QUANTILES = (500, 900, 990)  # permille


def _histogram_quantile_oracle_sql() -> str:
    # bin = floor(16 * log2(1 + vc)) via length(bin(x)) on the shifted
    # value: log2 resolution 1/16 bit from the mlog2 chain's first 4
    # fraction steps — enough for a <=6.25%-of-log-space bin, the
    # Prometheus-histogram shape.
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _mlog2_step_exprs,
    )

    steps = []
    for i in range(1, 5):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"h{i} AS (SELECT vc, e, {m}, {f_} FROM h{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    legs = " UNION ALL ".join(
        f"SELECT CAST({q} AS BIGINT) AS q_permille, "
        "(SELECT CAST(min(ub) AS BIGINT) FROM cum, tot "
        f"WHERE 1000 * c >= {q} * tot.n) AS est_upper_cents, "
        f"(SELECT CAST(vc AS BIGINT) FROM ranked, tot "
        f"WHERE rn = (({q} * tot.n + 999) // 1000)) AS exact_cents"
        for q in _HQ_QUANTILES
    )
    return (
        "WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS vc "
        "FROM events WHERE CAST(round(value * 100) AS BIGINT) >= 0), "
        "dx AS (SELECT DISTINCT vc, (vc + 1) << 20 AS x FROM v), "
        f"h0 AS (SELECT vc, {seed} FROM dx), "
        + ", ".join(steps)
        + ", bins AS (SELECT vc, (e - 20) * 16 + f4 AS b FROM h4), "
        "bc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM v "
        "JOIN bins USING (vc) GROUP BY b), "
        "ub AS (SELECT b, c, max(vc) AS ub FROM bc JOIN bins USING (b) "
        "JOIN dx USING (vc) GROUP BY b, c), "
        "cum AS (SELECT b, ub, sum(c) OVER (ORDER BY b) AS c FROM ub), "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v), "
        "ranked AS (SELECT vc, row_number() OVER (ORDER BY vc) AS rn "
        "FROM v) "
        f"SELECT * FROM ({legs}) ORDER BY q_permille"
    )


@query(
    "events_histogram_quantile_sketch", oracle=_histogram_quantile_oracle_sql()
)
def events_histogram_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable log-histogram quantile sketch next to ground truth:
    value-cents land in deterministic log2-spaced bins (1/16-bit
    resolution via the first four mlog2 fraction steps — the
    Prometheus/OpenTelemetry exponential-histogram shape, mergeable by
    bin-wise addition at any shard count), the p50/p90/p99 estimate is
    each quantile's covering-bin upper bound, and the EXACT quantile
    rides along so the sketch's error is visible in the graded row
    rather than asserted in a comment.

    Scale: the sketch is a map-side-combining groupBy to <=16*log2(max)
    bins; bin upper bounds come from the distinct-value table; only the
    exact-quantile ride-along ranks the corpus, and it uses a
    rank-window over the values column — at true 100 TB the exact leg
    drops and the sketch IS the answer (that is the point of shipping
    the estimate next to truth at test scale).
    """
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _mlog2_step_exprs,
    )
    from duckdb_cluster_hash_spark.operators.ranking import (
        global_row_number,
        ordered_prefix_sum,
    )

    ev = _t(spark, sf_dir, "events")
    v = ev.selectExpr("CAST(round(value * 100) AS BIGINT) AS vc").filter(
        F.col("vc") >= 0
    )
    dx = v.distinct().selectExpr("vc", "(vc + 1) << 20 AS x")
    s = dx.selectExpr("vc", *_MLOG2_SEED_EXPRS)
    for i in range(1, 5):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr("vc", "e", m, f_)
    bins = s.selectExpr("vc", "(e - 20) * 16 + f4 AS b")
    vb = v.join(F.broadcast(bins), "vc")
    bc = vb.groupBy("b").agg(
        F.count("*").cast("bigint").alias("c"),
        F.max("vc").cast("bigint").alias("ub"),
    )
    cum = ordered_prefix_sum(bc, [F.col("b")], "c", out_col="csum")
    tot = v.agg(F.count("*").cast("bigint").alias("n"))
    # exact ride-along: global rank over values (literal-cut buckets, no
    # single-partition sort), then pick the ceil(q*n/1000)-th value —
    # ALL quantile targets filtered in ONE pass over the ranked frame.
    # The r14 eager checkpoint here existed because the three unioned
    # legs each referenced this subtree; the single non-equi join below
    # (r15) references it exactly once, so the checkpoint became a pure
    # extra serialized job and is gone — one fewer action to wait a
    # FAIR-queue turn under the bench's 8-way contention.
    ranked = global_row_number(
        v, [F.col("vc")], out_col="rn"
    )
    any_target = " OR ".join(
        f"rn = ({q} * n + 999) div 1000" for q in _HQ_QUANTILES
    )
    exacts = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.expr(any_target))
        .selectExpr("CAST(vc AS BIGINT) AS exact_cents", "rn", "n")
    )
    # ONE non-equi join of the |quantiles|-row target table against the
    # bin-bounded cumulative table replaces the three unioned
    # scalar-agg legs (r15, VERDICT item 7): the legs each re-planned
    # the cum/exacts subtrees and union-stitched three 1-row frames —
    # three covering-bin aggregates and a 3-way union for what is one
    # grouped min.  The BroadcastNestedLoopJoins this introduces carry
    # (a) targets x cum — |quantiles| * (<=16*log2(max)) bin rows, a
    # domain bound, never data — and (b) targets x exacts — 3 x (<=3)
    # rows; both are final-stitch shapes, waived in audit_plans with
    # these row bounds.  The corpus-side work (bin groupBy, rank pass)
    # is untouched.
    targets = spark.createDataFrame(
        [(int(q),) for q in _HQ_QUANTILES], "q_permille bigint"
    )
    est = (
        cum.crossJoin(F.broadcast(tot))
        .join(F.broadcast(targets), F.expr("1000 * csum >= q_permille * n"))
        .groupBy("q_permille")
        .agg(F.min("ub").cast("bigint").alias("est_upper_cents"))
    )
    exact = exacts.join(
        F.broadcast(targets),
        F.expr("rn = (q_permille * n + 999) div 1000"),
    ).select("q_permille", "exact_cents")
    return (
        est.join(exact, "q_permille")
        .select("q_permille", "est_upper_cents", "exact_cents")
        .orderBy("q_permille")
    )


@query(
    "events_bot_rate_audit",
    oracle=(
        "WITH g AS (SELECT user_id, epoch_us(ts) AS us, "
        "epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us "
        "FROM events), "
        "u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(max(us) - min(us) AS BIGINT) AS span_us, "
        "CAST(min(gap_us) AS BIGINT) AS min_gap_us FROM g "
        "GROUP BY user_id HAVING count(*) >= 2) "
        "SELECT user_id, n_events, span_us, min_gap_us, "
        "CAST(CASE WHEN span_us = 0 THEN 0 ELSE "
        "(60000000000 * n_events) // span_us END AS BIGINT) "
        "AS rate_per_min_milli, "
        "CAST(CASE WHEN min_gap_us < 1000000 AND n_events >= 20 "
        "THEN 1 ELSE 0 END AS BIGINT) AS flagged "
        "FROM u ORDER BY rate_per_min_milli DESC, user_id LIMIT 15"
    ),
)
def events_bot_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-rate audit over per-user event cadence: activity span,
    minimum inter-event gap, and sustained events-per-minute (milli),
    with a superhuman-cadence flag (any sub-second gap AND >= 20
    events) — the abuse screen run before letting engagement metrics
    or training-data sampling trust raw user activity.  Gaps in exact
    integer microseconds (unix_micros / epoch_us), so every column
    value-hashes bit-for-bit.

    Scale: gaps come from a lag window inside user-partitioned,
    timestamp-ordered frames (the session shape — no global ordering);
    the per-user rollup is one keyed aggregate and the report is a
    15-row TakeOrdered.
    """
    ev = _t(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            )
        ).alias("gap_us"),
    )
    u = (
        g.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            (F.max("us") - F.min("us")).cast("bigint").alias("span_us"),
            F.min("gap_us").cast("bigint").alias("min_gap_us"),
        )
        .filter(F.col("n_events") >= 2)
    )
    return (
        u.selectExpr(
            "user_id",
            "n_events",
            "span_us",
            "min_gap_us",
            "CAST(CASE WHEN span_us = 0 THEN 0 ELSE "
            "(60000000000 * n_events) div span_us END AS BIGINT) "
            "AS rate_per_min_milli",
            "CAST(CASE WHEN min_gap_us < 1000000 AND n_events >= 20 "
            "THEN 1 ELSE 0 END AS BIGINT) AS flagged",
        )
        .orderBy(F.desc("rate_per_min_milli"), F.asc("user_id"))
        .limit(15)
    )
