"""Per-host politeness scheduler + deterministic crawl ordering.

The reference has no politeness — its throttle is a global task_limit
(src/cli.rs:41-42). The north rule requires a per-host politeness queue with
robots.txt crawl-delay enforcement and a salted priority-queue frontier. This
module defines the engine's *crawl-ordering spec* (SURVEY.md §7):

    order = (wave, host, slot, url), slot = row_number per host over
    (priority DESC, url ASC), capped at the host's per-wave budget;
    over-budget URLs are deferred to the next wave's frontier.

The Python oracle implements the identical rule, making "matching crawl
ordering" testable.

Scale notes: the window per host is the classic skew hazard (a hot host with
10^7 frontier URLs lands on one task). ``schedule_wave`` therefore pre-trims
each host partition with a cheap salted partial top-k (group by
(host, salt) -> local top-budget) before the exact per-host window, bounding
any single task to salt_buckets * budget rows. AQE skew-join handles the
residual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CRAWL_DELAY = 1


def _robots_frame(pages: DataFrame) -> DataFrame:
    """(host, text) robots bodies from the corpus /robots.txt rows."""
    return (
        pages.filter(F.col("url").endswith("/robots.txt"))
        .select(
            F.regexp_extract(F.col("url"), r"^https?://([^/]+)/robots\.txt$", 1).alias("host"),
            F.col("text"),
        )
        .filter(F.col("host") != "")
    )


def parse_robots_crawl_delay(pages: DataFrame, user_agent: str = "*") -> DataFrame:
    """robots cache: (host, crawl_delay) from corpus /robots.txt rows. The
    result is tiny (one row per host with a robots body) and broadcast into
    the scheduler.

    CONTRACT (group-scoped since round 4): Crawl-delay binds to the RFC 9309
    group selected for our agent — groups naming ``user_agent`` when any
    exist, else the ``*`` groups (§2.2.1 specificity, same walk as
    parse_robots_rules). Among the selected groups the FIRST Crawl-delay
    line in file order wins (min(idx) — order-independent under shuffle).
    Groupless lines, other agents' groups, and hosts whose selected groups
    carry no Crawl-delay all fall back to DEFAULT_CRAWL_DELAY. Crawl-delay
    is a non-RFC extension and engines disagree on its scoping; the
    dominant group-scoped interpretation is pinned here and mirrored by
    both oracles (pyoracle._crawl_delays, crawl_robots_delay SQL)."""
    robots = _robots_frame(pages)
    tagged = _tag_robots_lines(robots)
    groups = _matching_groups(tagged, user_agent)
    delays = (
        tagged.filter(F.col("rule_type") == "delay")
        .join(F.broadcast(groups), ["host", "group_id"], "left_semi")
        .groupBy("host")
        .agg(F.min(F.struct("idx", "delay_s")).alias("w"))
        .select("host", F.col("w.delay_s").alias("crawl_delay"))
    )
    return (
        robots.select("host")
        .distinct()
        .join(F.broadcast(delays), "host", "left")
        .withColumn(
            "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))
        )
    )


def parse_robots_disallow(pages: DataFrame, user_agent: str = "*") -> DataFrame:
    """robots cache, Disallow side: (host, prefix) rows from the
    ``Disallow:`` lines of the corpus /robots.txt pages that bind to OUR
    agent — delegated to ``parse_robots_rules`` so the crawl's enforcement
    path shares the one RFC 9309 group-scoped parser (other bots' groups and
    groupless rules never gate our frontier). Result is tiny and broadcast
    into the frontier filter; the Python oracle twin implements the same
    group walk (pyoracle._robots_groups)."""
    return (
        parse_robots_rules(_robots_frame(pages), user_agent=user_agent)
        .filter(F.col("rule_type") == "disallow")
        .select("host", "prefix")
    )


def url_path(url) -> "F.Column":
    """Path component of a canonical url ('' when absent)."""
    return F.regexp_extract(url, r"^https?://[^/?#]+([^?#]*)", 1)


def parse_robots_rules(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """Full rule parse of robots bodies with RFC 9309 group selection:
    (host, rule_type, prefix) from the ``Allow:`` / ``Disallow:`` lines of
    the groups whose ``User-agent:`` matches ``user_agent`` (or ``*``).

    Group semantics per the spec: a group starts at a ``User-agent`` line
    whose predecessor is NOT a ``User-agent`` line (consecutive UA lines
    share one group); rules bind to their group; rules before any UA line
    belong to no group and are ignored; rules in groups scoped to OTHER
    agents do not apply. Specificity per RFC 9309 §2.2.1: when any group
    names OUR agent, only those groups apply and the ``*`` groups are
    IGNORED for that host; ``*`` groups apply only as the fallback when no
    specific group exists. Empty-prefix lines (a bare ``Disallow:`` =
    allow-all) carry no rule and are dropped. [ \\t]* (not \\s*) so
    whitespace can't cross the line boundary.

    Shape: one posexplode + one per-host window (robots bodies are KB-sized
    and the robots frame is per-host tiny — this entire parse runs on the
    broadcast side of the decision join)."""
    tagged = _tag_robots_lines(robots)
    matching_groups = _matching_groups(tagged, user_agent)
    return (
        tagged.filter(F.col("rule_type").isin("allow", "disallow") & (F.col("host") != ""))
        # matching_groups is bounded by (#hosts x #groups-per-file) — always
        # broadcastable; without the hint the unknown-size agg can plan SMJ
        .join(F.broadcast(matching_groups), ["host", "group_id"], "left_semi")
        .select("host", "rule_type", "prefix")
        .distinct()
    )


def _tag_robots_lines(robots: DataFrame) -> DataFrame:
    """Shared robots line tagger: (host, idx, ua, rule_type, prefix, delay_s,
    group_id) rows from (host, text) bodies. rule_type is 'allow' /
    'disallow' / 'delay' / NULL; group_id numbers the RFC 9309 groups per
    host (cumulative count of group-starting User-agent lines, so rules
    before any UA line get group_id 0 — no group ever matches it).

    Determinism guard: a host can contribute several robots bodies (http +
    https twins, duplicate corpus rows) whose exploded lines would interleave
    with nondeterministic idx tie order. At most one body may bind per host,
    chosen as min(text) — deterministic under any row order, and a no-op for
    the common exact-duplicate case."""
    robots = robots.groupBy("host").agg(F.min("text").alias("text"))
    lines = robots.select(
        "host", F.posexplode(F.split(F.col("text"), "\n")).alias("idx", "line")
    )
    ua_val = F.regexp_extract(F.col("line"), r"^User-agent:[ \t]*(\S+)", 1)
    allow_p = F.regexp_extract(F.col("line"), r"^Allow:[ \t]*(\S+)", 1)
    dis_p = F.regexp_extract(F.col("line"), r"^Disallow:[ \t]*(\S+)", 1)
    delay_v = F.regexp_extract(F.col("line"), r"^Crawl-delay:[ \t]*(\d+)", 1)
    wcum = (
        Window.partitionBy("host")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_ua = ua_val != ""
    prev_is_ua = F.lag(is_ua, 1, False).over(Window.partitionBy("host").orderBy("idx"))
    return lines.select(
        "host",
        "idx",
        ua_val.alias("ua"),
        F.when(allow_p != "", F.lit("allow"))
        .when(dis_p != "", F.lit("disallow"))
        .when(delay_v != "", F.lit("delay"))
        .alias("rule_type"),
        F.when(allow_p != "", allow_p).otherwise(dis_p).alias("prefix"),
        F.when(delay_v != "", delay_v.cast("int")).alias("delay_s"),
        F.sum((is_ua & ~prev_is_ua).cast("int")).over(wcum).alias("group_id"),
    )


def _matching_groups(tagged: DataFrame, user_agent: str) -> DataFrame:
    """(host, group_id) of the groups that bind to ``user_agent`` under RFC
    9309 §2.2.1 specificity: a host with ANY group naming our agent drops its
    '*' groups (most specific wins, no union); '*' is the fallback only."""
    is_specific = F.lower(F.col("ua")) == user_agent.lower()
    candidates = tagged.filter(is_specific | (F.col("ua") == "*")).select(
        "host", "group_id", is_specific.alias("specific")
    )
    host_any = Window.partitionBy("host")
    return (
        candidates.withColumn(
            "_has_specific", F.max(F.col("specific").cast("int")).over(host_any)
        )
        .filter(F.col("specific") | (F.col("_has_specific") == 0))
        .select("host", "group_id")
        .distinct()
    )


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


def _rule_pattern() -> tuple["F.Column", "F.Column"]:
    """(anchored_regex, is_wildcard) for the ``prefix`` column of a robots
    rule, per the Google spec: ``*`` matches any char sequence, trailing
    ``$`` anchors the end, everything else is literal. Pure Catalyst string
    ops — translated ONCE per rule on the (tiny) broadcast side."""
    ends_dollar = F.col("prefix").endswith("$")
    body = F.when(
        ends_dollar, F.expr("substring(prefix, 1, length(prefix) - 1)")
    ).otherwise(F.col("prefix"))
    # escape every regex metachar EXCEPT '*', then '*' -> '.*'
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    pattern = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(ends_dollar, F.lit("$")).otherwise(F.lit("")),
    )
    return pattern, F.col("prefix").contains("*") | ends_dollar


def filter_disallowed(frontier: DataFrame, disallow: DataFrame) -> DataFrame:
    """Frontier minus robots-disallowed URLs: a broadcast LEFT ANTI join on
    (same host AND rule matches path) — the disallow table is per-host tiny,
    the frontier is never shuffled.

    Rule semantics per the Google robots spec: a plain rule is a path
    PREFIX (fast startswith path); wildcard rules are matched with RLIKE as
    the join residual (see _rule_pattern)."""
    pattern, wild = _rule_pattern()
    d = F.broadcast(
        disallow.select(
            F.col("host").alias("d_host"),
            F.col("prefix").alias("d_prefix"),
            wild.alias("d_wild"),
            pattern.alias("d_pattern"),
        )
    )
    fr = frontier.withColumn("_path", url_path(F.col("url")))
    cond = (F.col("host") == F.col("d_host")) & F.when(
        F.col("d_wild"), F.expr("_path RLIKE d_pattern")
    ).otherwise(F.startswith(F.col("_path"), F.col("d_prefix")))
    return fr.join(d, cond, "left_anti").drop("_path")


def schedule_wave(
    frontier: DataFrame,
    robots: DataFrame | None,
    host_budget: int | None,
    salt_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Assign per-host slots; split (scheduled, deferred).

    * scheduled rows gain ``slot`` (1-based within host) and respect
      ``effective_budget = max(1, host_budget // crawl_delay)``;
    * deferred rows (over budget) are returned unchanged for re-enqueue.

    ``host_budget None`` -> no cap: everything is scheduled (slots still
    assigned — they define the deterministic order).
    """
    w_exact = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))

    if host_budget is None:
        scheduled = frontier.withColumn("slot", F.row_number().over(w_exact).cast("int"))
        return scheduled, frontier.limit(0)

    # salted partial top-k: local rank within (host, salt) can only be <= the
    # exact per-host rank, so keeping local_rank <= budget is a safe superset.
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    w_salt = Window.partitionBy("host", salt).orderBy(F.desc("priority"), F.asc("url"))

    if robots is not None:
        frontier = frontier.join(F.broadcast(robots), on="host", how="left")
        budget = F.greatest(
            F.lit(1),
            (F.lit(host_budget) / F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))).cast("int"),
        )
    else:
        budget = F.lit(host_budget)

    pre = frontier.withColumn("_local_rank", F.row_number().over(w_salt)).withColumn(
        "_budget", budget
    )
    survivors = pre.filter(F.col("_local_rank") <= F.col("_budget"))
    ranked = survivors.withColumn("slot", F.row_number().over(w_exact).cast("int"))

    scheduled = ranked.filter(F.col("slot") <= F.col("_budget")).drop(
        "_local_rank", "_budget", "crawl_delay"
    )
    # deferred = frontier minus scheduled (anti-join on url)
    deferred = frontier.drop("crawl_delay").join(
        scheduled.select("url"), on="url", how="left_anti"
    )
    return scheduled, deferred


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
