"""Politeness and fetch-policy planning that only the query catalogue runs:
robots rule precedence over a frontier, per-page robots directives (meta
tag and ``X-Robots-Tag``), retry/backoff planning, per-host adaptive
timeouts and the wave-schedule makespan. None of it runs in the crawl loop;
the crawl's own politeness (robots Crawl-delay and Disallow, the per-host
schedule) is ``politeness.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .politeness import _rule_pattern, url_path


def robots_decision(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Google-spec rule precedence over (url, host) rows: among the rules
    matching a URL's path, the LONGEST raw rule wins; on a length tie the
    Allow rule wins (least-restrictive tiebreak); no matching rule = allowed.
    Output: one DECISION row per distinct (url, host) — (url, host, allowed);
    callers carrying extra frontier columns join the decisions back on url
    (the aggregation cannot preserve arbitrary payload columns).

    Shape: rules broadcast (per-host tiny); the match join multiplies each
    URL by its matching rules only, then one hash aggregation on (url, host)
    takes max(struct(rule_len, is_allow)) — struct ordering implements
    longest-first + allow-on-tie in a single order-independent max, so the
    reduce is exact under any shuffle order. One shuffle on the frontier key
    (co-partitioned with the engine's url_hash bucketing at scale)."""
    pattern, wild = _rule_pattern()
    r = F.broadcast(
        rules.select(
            F.col("host").alias("r_host"),
            F.col("prefix").alias("r_prefix"),
            wild.alias("r_wild"),
            pattern.alias("r_pattern"),
            F.length("prefix").alias("r_len"),
            (F.col("rule_type") == "allow").cast("int").alias("r_allow"),
        )
    )
    fr = frontier.withColumn("_path", url_path(F.col("url")))
    cond = (F.col("host") == F.col("r_host")) & F.when(
        F.col("r_wild"), F.expr("_path RLIKE r_pattern")
    ).otherwise(F.startswith(F.col("_path"), F.col("r_prefix")))
    matched = fr.join(r, cond, "left")
    win = F.max(F.when(F.col("r_len").isNotNull(), F.struct("r_len", "r_allow")))
    return (
        matched.groupBy("url", "host")
        .agg(win.alias("w"))
        .select(
            "url",
            "host",
            (F.col("w").isNull() | (F.col("w.r_allow") == 1)).alias("allowed"),
        )
    )


def robots_meta_flags(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Per-page robots directives from the two in-band channels robots.txt
    cannot express (RFC 9309 covers only URL-space access): the
    ``<meta name="robots">`` tag and the ``X-Robots-Tag`` response header.
    ``noindex`` pages must be dropped from the INDEX (but may still be
    fetched and their links followed); ``nofollow`` pages contribute no
    outlinks to the frontier. A crawler that ignores these republishes
    content the site explicitly opted out of — a compliance gate, not an
    optimization.

    Adds ``noindex``/``nofollow`` (0/1 ints): a directive counts if it
    appears in EITHER channel; ``none`` is shorthand for both (Google/
    Bing-documented semantics). The meta probe scans the first 4096 bytes
    decoded latin-1 (total over byte sequences, tag bytes are ASCII;
    see detect_charset) — scan-only pure Catalyst, rides the fetch scan.

    Expects the ``headers`` map column when present (the fetch schema's
    map<string,string>); pass frames without it by selecting a NULL map.
    """
    head = F.lower(F.decode(F.substring(F.col(body_col), 1, 4096), "ISO-8859-1"))
    meta_content = F.regexp_extract(
        head,
        r'<meta[^>]*name\s*=\s*["\']?robots["\']?[^>]*content\s*=\s*["\']([^"\']*)',
        1,
    )
    hdr = F.lower(F.coalesce(F.element_at(F.col("headers"), "x-robots-tag"), F.lit("")))
    both = F.concat_ws(",", meta_content, hdr)

    def has(directive: str):
        # word-bounded match: 'noindex' must not fire on 'no-noindex-ish'
        # tokens; directives are comma/space separated in both channels
        return both.rlike(rf"(^|[,\s]){directive}([,\s]|$)")

    noindex = has("noindex") | has("none")
    nofollow = has("nofollow") | has("none")
    return pages.withColumn("noindex", noindex.cast("int")).withColumn(
        "nofollow", nofollow.cast("int")
    )


# retry/backoff policy (pinned; callers override per deployment)
RETRY_BASE_MS = 1_000
RETRY_MAX_EXP = 6  # cap the doubling at base * 2^6 = 64 s
RETRY_GIVE_UP = 5  # more than this many failures -> drop the URL


def plan_retries(
    failures: DataFrame,
    base_ms: int = RETRY_BASE_MS,
    max_exp: int = RETRY_MAX_EXP,
    give_up_after: int = RETRY_GIVE_UP,
) -> DataFrame:
    """Exponential-backoff retry planning over the fetch-failure table —
    the step between "this fetch failed" (fetch.py's fetch_failed rows)
    and the next wave's frontier: a transient 5xx/timeout deserves a
    retry, but retrying 10^8 failed URLs every wave IS a DDoS, so the
    delay doubles per consecutive failure and permanently-failing URLs
    age out. The reference drops failures on the floor
    (crawler.rs: a failed fetch is logged and forgotten); any real
    recrawl loop needs this table.

    Input (url, n_failures >= 1, last_attempt_ms). Adds:

    * ``give_up``       — 0/1: n_failures > ``give_up_after``;
    * ``backoff_ms``    — base_ms * 2^min(n_failures - 1, max_exp)
      (first retry waits base_ms); 0 for give-up rows;
    * ``next_attempt_ms`` — last_attempt_ms + backoff_ms (NULL for
      give-up rows: there is no next attempt).

    Pure scan-side integer arithmetic (shiftleft, no floats — value-hash
    stable); the wave loop anti-joins its frontier against give_up rows
    and gates retry rows on next_attempt_ms <= now. Deterministic on
    purpose: jitter belongs to the EXECUTOR at request time, not the
    plan (a deterministic plan is what makes kill/resume replayable).
    """
    give_up = (F.col("n_failures") > give_up_after).cast("int")
    # SQL shiftleft: the bit count can be an expression (the PySpark
    # wrapper insists on a literal int)
    backoff = F.when(give_up == 1, F.lit(0).cast("bigint")).otherwise(
        F.expr(
            f"CAST({base_ms} AS BIGINT)"
            f" * shiftleft(CAST(1 AS BIGINT), least(n_failures - 1, {max_exp}))"
        )
    )
    return (
        failures.withColumn("give_up", give_up)
        .withColumn("backoff_ms", backoff)
        .withColumn(
            "next_attempt_ms",
            F.when(
                F.col("give_up") == 0,
                (F.col("last_attempt_ms") + F.col("backoff_ms")).cast("bigint"),
            ),
        )
    )


# adaptive-timeout clamps (pinned)
TIMEOUT_MIN_MS = 1_000
TIMEOUT_MAX_MS = 30_000
TIMEOUT_P = 95  # nearest-rank percentile, integer percent


def plan_adaptive_timeouts(
    fetches: DataFrame,
    min_ms: int = TIMEOUT_MIN_MS,
    max_ms: int = TIMEOUT_MAX_MS,
    p: int = TIMEOUT_P,
) -> DataFrame:
    """Per-host adaptive timeout planning: one global --timeout (the
    reference's 10 s, cli.rs:34-35) wastes budget both ways — it aborts
    slow-but-healthy hosts and waits far too long on fast hosts' stragglers.
    The standard fix: timeout(host) = clamp(2 * p95(latency), floor, cap),
    recomputed per crawl wave from observed fetch_ms.

    NEAREST-RANK p95 (the ceil(p*n/100)-th order statistic) — an actual
    observed value, all-integer, so both engines agree exactly
    (interpolated percentiles differ in IEEE op order across engines and
    a floor() at an integer boundary amplifies a 1-ulp difference into
    an off-by-one).

    Output (host, n_fetches, p95_ms, timeout_ms, n_would_timeout — how
    many observed fetches the NEW timeout would have aborted: the
    self-consistency readout, <= 5% by construction).

    Shape: per-host sorted collect_list — host groups are politeness-
    bounded (a wave fetches a capped number of pages per host), so the
    arrays are small by the same invariant that bounds the scheduler;
    for uncapped offline analysis swap in approx_percentile (sketch
    merges map-side)."""
    grouped = fetches.groupBy("host").agg(
        F.sort_array(F.collect_list(F.col("fetch_ms").cast("bigint"))).alias("_ms"),
    )
    n = F.size("_ms")
    # integer ceil: ceil(n*p/100) == (n*p + 99) div 100 — no doubles anywhere
    idx = F.expr(f"(size(_ms) * {p} + 99) div 100").cast("int")
    p95 = F.element_at(F.col("_ms"), F.greatest(idx, F.lit(1)))
    timeout = F.least(F.greatest(p95 * 2, F.lit(min_ms).cast("bigint")), F.lit(max_ms).cast("bigint"))
    return (
        grouped.withColumn("n_fetches", n.cast("int"))
        .withColumn("p95_ms", p95)
        .withColumn("timeout_ms", timeout)
        .withColumn(
            "n_would_timeout",
            F.size(F.filter(F.col("_ms"), lambda v: v > F.col("timeout_ms"))).cast("int"),
        )
        .select("host", "n_fetches", "p95_ms", "timeout_ms", "n_would_timeout")
    )


def schedule_makespan(frontier: DataFrame, default_delay_ms: int = 500) -> DataFrame:
    """Wave-schedule makespan analysis — the capacity-planning readout for
    a politeness-bound crawl: a host's wave time is (n_urls - 1) * delay
    (requests are serialized per host; the first fires at t=0), and the
    WAVE's wall time is the slowest host — so one hot host with a long
    Crawl-delay dominates wall-clock no matter how many executors exist.
    This query is how an operator decides between splitting a host's
    budget across waves and negotiating its delay.

    Input (host, n_urls, delay_ms nullable — robots Crawl-delay where
    declared, else ``default_delay_ms``). Output per host: (host, n_urls,
    delay_ms, host_time_ms, is_critical 0/1 — on the makespan, ties all
    flagged) plus the makespan as a column (same value every row — the
    1-row max broadcast crossJoin, the hits_int normalization pattern).
    Host-cardinality all the way; the crossJoin is 1-row."""
    hosts = frontier.select(
        "host",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.coalesce(F.col("delay_ms"), F.lit(default_delay_ms)).cast("bigint").alias("delay_ms"),
    ).withColumn(
        "host_time_ms",
        (F.greatest(F.col("n_urls") - 1, F.lit(0)) * F.col("delay_ms")).cast("bigint"),
    )
    mk = hosts.agg(F.max("host_time_ms").alias("makespan_ms"))
    return (
        hosts.crossJoin(F.broadcast(mk))
        .withColumn(
            "is_critical", (F.col("host_time_ms") == F.col("makespan_ms")).cast("int")
        )
        .select("host", "n_urls", "delay_ms", "host_time_ms", "makespan_ms", "is_critical")
    )
